"""Registry entries for the LLM-data-pipeline operators (north star):
dedup tiers, similarity search, text analysis, multimodal plumbing.

Oracle discipline (same as analytics.py): exact where SQL can express
the semantics — including cosine similarity, which is bit-identical
between Spark's ordered double fold and DuckDB's
``list_cosine_similarity`` on ``DOUBLE[]`` (verified), and the full
SimHash and MinHash(md5) pipelines, whose deterministic hashes are
replicated digit-for-digit in the oracle SQL. Rows-only only where the
operator is genuinely irreproducible outside the JVM — xxhash64
MinHash (same algorithm as the gated md5 twin), RNG-hyperplane LSH and
KMeans IVF (recall pinned by pytest against the gated exact tiers),
and the approximate sketches (error bounds pinned by pytest).
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from auraverse_etl_pipeline_spark.functions.text import (
    LANG_STOPWORDS,
    avg_token_len,
    content_fingerprint,
    lang_guess,
    punct_ratio,
    rolling_hash,
    stopword_ratio,
    token_count,
)
from auraverse_etl_pipeline_spark.operators.bloom import (
    BLOCKLIST_NUM_BITS,
    BLOCKLIST_NUM_HASHES,
)
from auraverse_etl_pipeline_spark.operators.caching import cut, release_after, run_jobs
from auraverse_etl_pipeline_spark.operators.quality import (
    gopher_fail_reason_sql as _gopher_fail_reason_sql,
    gopher_keep_sql as _gopher_keep_sql,
)
from auraverse_etl_pipeline_spark.operators.dedup import (
    drop_boilerplate_lines,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)
from auraverse_etl_pipeline_spark.operators.multimodal import (
    attach_fake_media,
    extract_media_features,
)
from auraverse_etl_pipeline_spark.operators.similarity import (
    cosine_range_search,
    cosine_top_k,
    embedding_cosine_pairs,
    hyperplane_lsh_pairs,
    ivf_top_k,
)
from auraverse_etl_pipeline_spark.plans.registry import query
from auraverse_etl_pipeline_spark.sources.tables import load_table

#: DuckDB spelling of whitespace tokens / shingles, shared across oracles.
#: The column-parameterized builders exist so a non-``text`` column
#: (e.g. the pair captions) interpolates structurally instead of via a
#: post-hoc string replace that would corrupt the SQL if the template
#: ever gained any other token containing "text".


def _toks(col: str) -> str:
    return f"string_split_regex(trim({col}), '\\s+')"


def _sh3(col: str) -> str:
    t = _toks(col)
    return (
        f"list_distinct(list_transform(range(1, len({t}) - 1), "
        f"i -> array_to_string(({t})[i:i+2], ' ')))"
    )


_TOKS = _toks("text")
_SH3 = _sh3("text")


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_redundant
    FROM documents
    """,
    description="exact-dup tier: content-hash cardinality of the corpus",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_redundant"),
    )


@query(
    "dedup_exact_groups",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT md5(text) AS content_md5, COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
    FROM corpus
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
    description="exact duplicate groups over a corpus with injected copies",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return exact_duplicate_groups(docs.unionByName(copies))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SH3} AS shingles
        FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_shared,
           CAST(len(a.shingles) AS BIGINT) AS n1,
           CAST(len(b.shingles) AS BIGINT) AS n2,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
          >= 0.02
    """,
    description="exact 3-gram Jaccard pairs via sparse shingle self-join (no cross join)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(docs, threshold=0.02, n=3)


# dedup_minhash_pairs is registered further down (below
# _minhash_oracle_sql, which its oracle parameterizes).


#: DuckDB replica of the SimHash pipeline: 60-bit hash from the first
#: 15 hex chars of each distinct token's md5, per-bit majority vote,
#: 4×15-bit band self-join, Hamming prune — exactly the Spark operator.
_SIMHASH_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(tok), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) AS h
        FROM tok
    ),
    v AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM h, range(60) r(b)
        GROUP BY doc_id, b
    ),
    sim AS (
        SELECT doc_id,
               SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
        FROM v GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, i || ':' || ((simhash >> (i * 15)) & 32767) AS band
        FROM sim, range(4) r(i)
    )
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b USING (band)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 16
"""


@query(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_ORACLE,
    description="SimHash band-join candidates with Hamming distance "
    "(deterministic md5 bit-votes, so the full pipeline is oracle-checked)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_candidate_pairs(docs, max_hamming=16, max_bucket_size=1000)
    return pairs.withColumn("hamming", F.col("hamming").cast("bigint"))


def _with_perturbed_copies(emb: DataFrame, max_id: int | None = None) -> DataFrame:
    """Corpus ∪ near-duplicate copies: each copy shifts every component
    by +0.05 (cosine vs the original ≈ 0.99 on this data) under
    vec_id+100000 — the deterministic fixture for the embedding-dedup
    tier, identical in Spark and the DuckDB oracle."""
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    if max_id is not None:
        base = base.filter(F.col("vec_id") < max_id)
    copies = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.05)).alias("embedding"),
    )
    return base.unionByName(copies)


_PERTURBED_SQL = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < {max_id}
    ),
    corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 100000, list_transform(v, x -> x + 0.05) FROM base
    )
"""


@query(
    "dedup_embedding_cosine",
    oracle=_PERTURBED_SQL.format(max_id=150)
    + """
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           list_cosine_similarity(a.v, b.v) AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.9
    """,
    description="exact embedding-cosine near-dup pairs over a corpus with "
    "injected perturbed copies (brute-force baseline tier)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(_with_perturbed_copies(emb, max_id=150), threshold=0.9)


#: Random-plane LSH oracle geometry: 8 bands × 8 bits of md5-derived
#: ±1 planes over the 64-dim fixture — same band cost as the
#: sign-bucket twin, but the planes MIX components (true random-
#: hyperplane LSH, not axis-aligned).
_HPLSH_N_PLANES = 64
_HPLSH_BAND_BITS = 8
_HPLSH_SEED = 42


def _hyperplane_lsh_oracle() -> str:
    """The ±1 plane matrix is md5-derived data (projection_signs), so
    it embeds as a SQL literal generated from the SAME call the Spark
    operator makes; each plane dot product is DuckDB's sequential
    list_reduce — bit-identical to Spark's ordered left-fold — and the
    verify is list_cosine_similarity vs the ordered-fold cosine."""
    from auraverse_etl_pipeline_spark.operators.similarity import projection_signs

    signs = projection_signs(64, _HPLSH_N_PLANES, _HPLSH_SEED)
    mat = (
        "["
        + ", ".join(
            "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in row) + "]"
            for row in signs
        )
        + "]"
    )
    bb = _HPLSH_BAND_BITS
    n_bands = _HPLSH_N_PLANES // bb
    return (
        _PERTURBED_SQL.format(max_id=150)
        + f"""
    , m AS (SELECT {mat}::DOUBLE[][] AS mat),
    b AS (
        SELECT vec_id, CAST(r.b AS INTEGER) AS band,
               CAST(list_sum(list_transform(range(1, {bb + 1}), j ->
                   CASE WHEN list_reduce(
                            list_transform(range(1, 65),
                                           i -> v[i] * mat[r.b * {bb} + j][i]),
                            (a, c) -> a + c) >= 0
                        THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END))
                    AS BIGINT) AS key
        FROM corpus, range(0, {n_bands}) r(b), m
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
        FROM b a JOIN b b2 USING (band, key)
        WHERE a.vec_id < b2.vec_id
    )
    SELECT id1, id2, list_cosine_similarity(x.v, y.v) AS cosine
    FROM cand JOIN corpus x ON x.vec_id = cand.id1
              JOIN corpus y ON y.vec_id = cand.id2
    WHERE list_cosine_similarity(x.v, y.v) >= 0.9
    """
    )


@query(
    "dedup_embedding_lsh",
    oracle=_hyperplane_lsh_oracle(),
    description="random-hyperplane LSH embedding near-dups, now FULLY "
    "oracle-gated: the hyperplanes are md5-derived +-1 sign planes "
    "(the projection_signs matrix - true component-mixing planes, "
    "unlike the axis-aligned sign-bucket twin), every plane dot "
    "product a codegen'd ordered left-fold that DuckDB's sequential "
    "list_reduce replays digit-for-digit, exact-cosine verified with "
    "the ordered-fold cosine. 8 bands x 8 bits over the 64-dim "
    "perturbed-copy fixture; recall vs the exact tier pinned in "
    "pytest. The numpy-Gaussian plane family remains available as "
    "plane_kind='gaussian' (rows-only by construction)",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs(
        _with_perturbed_copies(emb, max_id=150),
        threshold=0.9,
        n_planes=_HPLSH_N_PLANES,
        band_bits=_HPLSH_BAND_BITS,
        seed=_HPLSH_SEED,
        dim=64,
        plane_kind="signs",
    )


#: Sign-bucket LSH oracle geometry — ONE definition shared by the Spark
#: query functions (explicit band_bits) and both oracle SQL blocks, so
#: a geometry change touches only these constants (the fixture
#: embeddings are 64-dim ⇒ the operator's width-derived band count is
#: dim // band_bits).
_SIGNLSH_BAND_BITS = 8
_SIGNLSH_N_BANDS = 64 // _SIGNLSH_BAND_BITS


def _signlsh_cand_sql(n_bands: int = _SIGNLSH_N_BANDS, band_bits: int = _SIGNLSH_BAND_BITS) -> str:
    """DuckDB CTEs ``b`` (band keys: bit-packed component signs) and
    ``cand`` (band-collision candidate pairs) over a CTE named
    ``corpus`` — replays operators/similarity.py signbucket_lsh_pairs
    digit-for-digit at the given geometry."""
    return f"""
    , b AS (
        SELECT vec_id, CAST(r.i AS INTEGER) AS band,
               CAST(list_sum(list_transform(range(1, {band_bits + 1}), j ->
                   CASE WHEN v[CAST(r.i * {band_bits} + j AS INT)] >= 0
                        THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT) AS key
        FROM corpus, range(0, {n_bands}) r(i)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
        FROM b a JOIN b b2 USING (band, key)
        WHERE a.vec_id < b2.vec_id
    )
"""


@query(
    "dedup_embedding_signlsh",
    oracle=_PERTURBED_SQL.format(max_id=150)
    + _signlsh_cand_sql()
    + """
    SELECT id1, id2, list_cosine_similarity(x.v, y.v) AS cosine
    FROM cand JOIN corpus x ON x.vec_id = cand.id1
              JOIN corpus y ON y.vec_id = cand.id2
    WHERE list_cosine_similarity(x.v, y.v) >= 0.9
    """,
    description="deterministic sign-bucket embedding LSH, fully "
    "oracle-gated (axis-aligned hyperplanes - the band keys are "
    "engine-reproducible bit-packs of component signs, unlike the RNG "
    "hyperplane tier which is rows-only by construction). 8 bands x 8 "
    "bits over the 64-dim fixture; exact-cosine verified; recall vs "
    "the exact tier pinned in pytest",
)
def dedup_embedding_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import signbucket_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # explicit band_bits: the oracle pins this geometry (production
    # callers omit it and get the corpus-sized derivation)
    return signbucket_lsh_pairs(
        _with_perturbed_copies(emb, max_id=150),
        threshold=0.9,
        band_bits=_SIGNLSH_BAND_BITS,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "sim_topk_cosine",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id >= 10
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_cosine_similarity(qv, cv) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id
               ) AS rank
        FROM q, c
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM scored WHERE rank <= 5
    """,
    description="exact brute-force cosine top-k (queries broadcast, corpus never shuffles)",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # exact_fold: the driver hash-matches the cosine values against
    # DuckDB's list_cosine_similarity, which needs the ordered-fold
    # summation; production callers get the Arrow path by default.
    out = cosine_top_k(
        corpus=emb.filter(F.col("vec_id") >= 10),
        queries=emb.filter(F.col("vec_id") < 10),
        k=5,
        exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _lloyd_chain(src: str, nlist: int, iters: int) -> tuple[str, str]:
    """Unrolled Lloyd-iteration CTE fragment over corpus CTE ``src``
    (columns id, v): sample init, then ``iters`` rounds of clamped
    exact-fold cosine assignment (ties to the lowest cell) + per-cell
    EXACT FIXED-POINT mean update (components × 2^43 → exact integers
    for float32-derived vectors, summed as DECIMAL(38,0), one division
    at the end — a raw double→DECIMAL(38,12) cast would hit half-up vs
    half-even ties on dyadic components); emptied cells keep their
    centroid. Returns (fragment, final_centroid_cte_name); the
    fragment starts with a comma (append after the corpus CTE).
    Multi-referenced CTEs MATERIALIZED (the BPE-chain discipline —
    DuckDB re-inlines plain CTEs per reference, which goes exponential
    down an iteration chain). Replays ivf_index(quantizer='lloyd')
    digit-for-digit."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        _LLOYD_FIXED_POINT as fx,
    )

    parts = [
        f""",
    c0 AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM {src} ORDER BY id LIMIT {nlist})
    )"""
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append(
            f""",
    a{it} AS MATERIALIZED (
        SELECT id, v, cell FROM (
            SELECT x.id, x.v, ct.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.id
                       ORDER BY least(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(x.v, ct.centroid))
                                    DESC,
                                ct.cell) AS rn
            FROM {src} x CROSS JOIN {prev} ct
        ) WHERE rn = 1
    ),
    u{it} AS MATERIALIZED (
        SELECT cell, r.i AS i,
               CAST(SUM(CAST(floor(v[r.i] * {fx!r}) AS DECIMAL(38,0)))
                    AS DOUBLE) / COUNT(*) / {fx!r} AS val
        FROM a{it}, range(1, 65) r(i) GROUP BY cell, r.i
    ),
    c{it} AS MATERIALIZED (
        SELECT cell, array_agg(val ORDER BY i) AS centroid
        FROM u{it} GROUP BY cell
        UNION ALL
        SELECT p.cell, p.centroid FROM {prev} p
        WHERE p.cell NOT IN (SELECT DISTINCT cell FROM u{it})
    )"""
        )
        prev = f"c{it}"
    return "".join(parts), prev


def _topk_ivf_lloyd_oracle() -> str:
    """Full ANN search path over the LLOYD-trained quantizer: the
    unrolled Lloyd chain over the corpus slice, then probe ranking,
    clamped corpus assignment, in-cell exact-fold scoring, top-k with
    deterministic tie-breaks — the sim_ivf_index_search shape with
    trained (not sampled) centroids."""
    chain, prev = _lloyd_chain("c", 16, 2)
    return (
        """
    WITH c AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    )"""
        + chain
        + f""",
    assigned AS (
        SELECT id, v, cell FROM (
            SELECT c.id, c.v, ct.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY least(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(c.v, ct.centroid))
                                    DESC,
                                ct.cell) AS rn
            FROM c CROSS JOIN {prev} ct
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, ct.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, ct.centroid) DESC,
                                ct.cell) AS pr
            FROM q CROSS JOIN {prev} ct
        ) WHERE pr <= 4
    ),
    scored AS (
        SELECT p.query_id, a.id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.id) AS rank
        FROM probes p JOIN assigned a USING (cell)
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM scored WHERE rank <= 5
    """
    )


@query(
    "sim_topk_ivf",
    oracle=_topk_ivf_lloyd_oracle(),
    description="IVF-flat ANN top-k over a TRAINED coarse quantizer, "
    "now fully oracle-gated: the deterministic in-engine Lloyd build "
    "(sample init, 2 clamped cosine-assignment + DECIMAL-mean rounds) "
    "replaces the MLlib KMeans fit, so quantizer training, corpus "
    "assignment, probe ranking and in-cell exact-fold scoring ALL "
    "replay digit-for-digit in SQL. Recall vs exact pinned in pytest "
    "for both this and the RNG KMeans path (still available as "
    "quantizer='kmeans')",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_top_k(
        corpus=emb.filter(F.col("vec_id") >= 10),
        queries=emb.filter(F.col("vec_id") < 10),
        k=5,
        nlist=16,
        nprobe=4,
        quantizer="lloyd",
        max_iter=2,
        exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: Shared CTE block for the persistable-IVF oracles: corpus/query split,
#: deterministic sample quantizer (the nlist lowest-id corpus vectors
#: ARE the centroids), exact-fold cosine assignment with ties to the
#: lowest cell — replays operators/similarity.py ivf_index(quantizer=
#: "sample") digit-for-digit.
_IVF_NLIST = 16
_IVF_NPROBE = 4
_IVF_CTES = f"""
    WITH c AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT {_IVF_NLIST})
    )
"""


@query(
    "sim_ivf_index_search",
    oracle=_IVF_CTES
    + f"""
    , assigned AS (
        SELECT id, v, cell FROM (
            SELECT c.id, c.v, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, cent.centroid) DESC,
                                cent.cell) AS pr
            FROM q CROSS JOIN cent
        ) WHERE pr <= {_IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.id) AS rank
        FROM probes p JOIN assigned a USING (cell)
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM scored WHERE rank <= 5
    """,
    description="the PERSISTED-index ANN path end to end: ivf_index "
    "(deterministic sample quantizer - the nlist lowest-id corpus "
    "vectors are the centroids, so the build is engine-reproducible "
    "unlike the KMeans tier) -> save to a cell-partitioned parquet "
    "index -> load -> ivf_search, no quantizer refit. The oracle "
    "replays quantizer, assignment, probe ranking and in-cell scoring "
    "digit-for-digit; the KMeans-quantizer twin (sim_topk_ivf) keeps "
    "its recall pinned in pytest",
)
def sim_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(
        emb.filter(F.col("vec_id") >= 10), nlist=_IVF_NLIST, quantizer="sample"
    )
    path = scratch_dir(prefix="ivf_index_")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)  # search hits ONLY the persisted tables
    out = ivf_search(
        emb.filter(F.col("vec_id") < 10), loaded, k=5, nprobe=_IVF_NPROBE,
        exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query(
    "sim_ivf_assign",
    oracle=_IVF_CTES
    + """
    SELECT id AS vec_id, cell, centroid_cos FROM (
        SELECT q.query_id AS id, cent.cell,
               list_cosine_similarity(q.qv, cent.centroid) AS centroid_cos,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, cent.centroid) DESC,
                            cent.cell) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn = 1
    """,
    description="the IVF index's incremental WRITE path: a new vector "
    "batch gets cells against the persisted centroids (ivf_assign - "
    "broadcast centroids, max_by hash aggregate, one fixed-width row "
    "per vector on the shuffle) with NO quantizer refit; appended into "
    "the index's cell partitions it becomes searchable tomorrow - the "
    "embedding twin of dedup_merge_index",
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(
        emb.filter(F.col("vec_id") >= 10), nlist=_IVF_NLIST, quantizer="sample"
    )
    new_batch = emb.filter(F.col("vec_id") < 10)
    return ivf_assign(new_batch, idx.centroids).select(
        F.col("id").alias("vec_id"), "cell", "centroid_cos"
    )


#: sim_ivf_occupancy_audit's rebalance cap — sits between the median
#: (~30 at the correctness SF) and the max (47), so the over-cap list
#: is non-trivial in BOTH directions (3 cells over, 13 under — pinned
#: in pytest; real caps are set the same way: from this audit's output).
_IVF_OCC_CAP = 35


@query(
    "sim_ivf_occupancy_audit",
    oracle=_IVF_CTES
    + f"""
    , assigned AS (
        SELECT id, cell FROM (
            SELECT c.id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    occ AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM assigned GROUP BY cell
    ),
    stats AS (
        SELECT MAX(n_members) AS mx,
               CAST(median(n_members) AS DOUBLE) AS md
        FROM occ
    )
    SELECT CAST(cell AS INTEGER) AS cell, n_members,
           CAST(mx AS BIGINT) AS max_members, md AS med_members,
           CAST(n_members AS DOUBLE) / md AS skew_ratio,
           n_members > {_IVF_OCC_CAP} AS over_cap
    FROM occ, stats
    """,
    description="the IVF index's SKEW TRIGGER: per-cell occupancy of "
    "the persisted inverted file with max/median context and the "
    "over-cap cell list (ivf_occupancy) - the measurement that "
    "decides when ivf_rebalance fires between stream-gate batches, "
    "mirroring dedup_hot_bucket_audit's audit-before-you-cap "
    "discipline on the embedding tier. One fixed-width aggregate "
    "over the assignments plus a broadcast 1-row stats fold; the "
    "oracle replays quantizer, argmax cells and the median ladder",
)
def sim_ivf_occupancy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_occupancy,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(
        emb.filter(F.col("vec_id") >= 10), nlist=_IVF_NLIST, quantizer="sample"
    )
    return ivf_occupancy(idx.assignments, cap=_IVF_OCC_CAP)


#: One take-down list over the shared id domain (vec_id / doc_id),
#: applied to EVERY persisted surface — the whole point of the tier.
_RETIRE_MOD, _RETIRE_REM = 7, 3

#: BM25 tokenizer spelling shared with the bm25 oracles above.
_BM25_TOKS = "string_split_regex(trim(text), '\\s+')"

#: Drift-audit geometry: batches of ≤100 arrivals by id, retrain at
#: 0.05 cosine decay — see quantizer_drift_audit for the fixed-point
#: exactness bound (well inside 2^12 rows per (cell, batch) group).
_DRIFT_BATCH = 100
_DRIFT_TAU = 0.05

#: Day-1/day-2 split for the compressed-family append query: the day-1
#: index covers ``vec_id % 4 != 3`` (375 of 500 vectors at the test
#: SFs — comfortably above ksub=64 for the sample codebooks), the
#: held-out quarter is the ingested batch.
_APPEND_MOD, _APPEND_REM = 4, 3

#: Shared day-1 staging for the maintenance-tier queries
#: (index_retire_ids / sim_quantizer_drift_audit / sim_retrain_audit):
#: each previously rebuilt the same sample-quantizer index from
#: scratch inside the query — ~6 s of each warm floor at the bench SF
#: (SCALE.md r14). Staged ONCE per (process, sf_dir); memo keyed on
#: sf_dir because the driver/bench/pytest all score within one
#: process. Queries that MUTATE a surface (retire's dynamic partition
#: overwrite, log_retire's in-place erase, retrain's full rewrite)
#: copy the staged files into their own scratch root first — a
#: byte-identical filesystem copy, so every oracle value is unchanged
#: and a re-run of the query still starts from day-1 state.
_IVF_FIXTURE_ROOTS: dict[str, str] = {}
_IVF_FIXTURE_STAGED: set[tuple[str, str]] = set()

#: Serializes the shared base-ivf staging under concurrent group
#: staging (groups themselves are independent and overlap freely).
import threading as _threading

_IVF_FIXTURE_LOCK = _threading.Lock()


def _staged_ivf_fixture(spark: SparkSession, sf_dir: str, *groups: str) -> str:
    """Stage (once per process per ``sf_dir``, LAZILY per surface
    group) the day-1 persisted surfaces the maintenance-tier queries
    score against. The shared base is the sample-quantizer corpus
    index; each query then requests only the surface groups it reads,
    so no query's timed slot pays for another query's staging (the
    eager all-at-once variant shifted the drift/retrain staging into
    whichever query ran first — measured in the r15 sweep). Groups:

    - ``"ivf"`` — ``IvfIndex.save`` of the sample-quantizer corpus
      index (centroids + cell-partitioned assignments). LAZY like
      every other group since r16 (staged implicitly only for the
      groups that read it, ``drift_log``/``retrain`` — the PQ-family
      groups never touch it, and the implicit-base variant charged
      its staging to whichever PQ query ran first, the exact
      cost-attribution trap the r15 eager fixture had);
    - ``"bm25"`` — ``Bm25Index.save`` of the documents triple;
    - ``"decisions"`` — a one-scoring decisions log (id, batch_id,
      kept);
    - ``"drift_log"`` — every arrival's (id, cell, centroid_cos,
      batch_id) against the day-1 quantizer, batched by arrival order
      — exactly the rows the gates append at scoring time;
    - ``"retrain"`` — ``retrain/{centroids,members}``: the gate-index
      layout over ALL embeddings (members keep ``v``), the surface
      ``retrain_gate_index`` re-fits;
    - ``"pq"`` — ``pq/encode_log``: every vector's (id, qerr,
      batch_id) against day-1 sample PQ codebooks (trained on the
      ``vec_id >= 10`` corpus) — exactly the rows ``pq_encode`` logs
      at encode time and ``pq_drift_audit`` trends;
    - ``"compressed"`` — the full day-1 IVF-PQ/SQ layout
      ``compressed_index_tick`` maintains, deliberately DRIFTED:
      ``assignments`` over ALL embeddings (members keep ``v`` — the
      retrain source of truth), stale sample ``codebooks``/
      ``pq_codes``/``encode_log`` (day-1 ``vec_id >= 10`` training,
      so the log's qerr trend genuinely rises), stale ``sq_stats``/
      ``sq_codes`` (day-1 ranges — saturation stays far under the
      clamp threshold, so the SQ pass self-quenches);
    - ``"cappend"`` — the ``sim_compressed_append`` day-1 layout:
      the same IVF-PQ/SQ surface set but built over ONLY the
      ``vec_id % _APPEND_MOD != _APPEND_REM`` split, every model
      (centroids, codebooks, sq_stats) trained on that split — the
      held-out quarter is the day-2 batch ``compressed_index_append``
      ingests against the frozen models.
    """
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    root = _IVF_FIXTURE_ROOTS.get(sf_dir)
    if root is None:
        root = scratch_dir(prefix="ivf_fixture_")
        _IVF_FIXTURE_ROOTS[sf_dir] = root

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def _ensure_ivf() -> None:
        # serialized: the base index is the one surface two groups can
        # request concurrently now that group staging overlaps
        with _IVF_FIXTURE_LOCK:
            if (sf_dir, "ivf") in _IVF_FIXTURE_STAGED:
                return
            ivf_index(
                emb.filter(F.col("vec_id") >= 10),
                nlist=_IVF_NLIST,
                quantizer="sample",
            ).save(f"{root}/ivf")
            # marked only AFTER the write: a failed staging must
            # re-run, not leave later queries reading a half-written
            # surface
            _IVF_FIXTURE_STAGED.add((sf_dir, "ivf"))

    def _arrivals() -> DataFrame:
        _ensure_ivf()
        cent = spark.read.parquet(f"{root}/ivf/centroids")
        return ivf_assign(emb, cent, clamp=True).withColumn(
            "batch_id", F.expr(f"id DIV {_DRIFT_BATCH}").cast("bigint")
        )

    def _stage(group: str) -> None:
        if group == "ivf":
            _ensure_ivf()
        elif group == "bm25":
            from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index

            # cache the shared (id, term, tf) table for the save: the
            # three index tables all derive from it, and an uncached
            # save would re-tokenize the corpus once per table write
            bidx = bm25_index(load_table(spark, sf_dir, "documents"), cache=True)
            bidx.save(f"{root}/bm25")
            bidx.cache_handle.unpersist()
        elif group == "decisions":
            # overwrite mode on every group write (and rmtree before
            # the copytree): a staging killed mid-write leaves the
            # path behind, and since the group is only marked staged
            # on success the RETRY must be able to replace the debris
            # instead of dying on path-already-exists
            load_table(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("id"),
                F.lit(1).cast("bigint").alias("batch_id"),
                (F.col("n_chars") >= 200).alias("kept"),
            ).write.mode("overwrite").parquet(f"{root}/decisions")
        elif group == "drift_log":
            _arrivals().select(
                "id", "cell", "centroid_cos", "batch_id"
            ).write.mode("overwrite").parquet(f"{root}/drift_log")
        elif group == "retrain":
            _arrivals().select("id", "v", "centroid_cos", "cell").repartition(
                "cell"
            ).write.mode("overwrite").partitionBy("cell").parquet(
                f"{root}/retrain/members"
            )
            # the retrain surface's centroids are the day-1 quantizer's
            # — byte-copy the already-written file
            shutil.rmtree(f"{root}/retrain/centroids", ignore_errors=True)
            shutil.copytree(f"{root}/ivf/centroids", f"{root}/retrain/centroids")
        elif group == "pq":
            from auraverse_etl_pipeline_spark.operators.similarity import (
                pq_codebooks,
                pq_quantization_error,
            )

            cb = pq_codebooks(
                emb.filter(F.col("vec_id") >= 10),
                m=_PQ_M,
                ksub=_PQ_KSUB,
                dim=64,
            )
            pq_quantization_error(emb, cb, m=_PQ_M, dim=64).withColumn(
                "batch_id", F.expr(f"id DIV {_DRIFT_BATCH}").cast("bigint")
            ).write.mode("overwrite").parquet(f"{root}/pq/encode_log")
        elif group in ("compressed", "cappend"):
            from auraverse_etl_pipeline_spark.operators.similarity import (
                pq_codebooks,
                pq_encode_with_error,
                sq_encode,
                sq_stats,
            )

            if group == "cappend":
                # the day-2 ingest fixture: every surface AND every
                # frozen model covers only the day-1 split — the
                # held-out quarter is what compressed_index_append
                # ingests at query time
                corpus = emb.filter(
                    F.col("vec_id") % _APPEND_MOD != _APPEND_REM
                )
                train = corpus
                croot = f"{root}/cappend"
            else:
                corpus = emb
                train = emb.filter(F.col("vec_id") >= 10)
                croot = f"{root}/compressed"
            ivf_index(corpus, nlist=_IVF_NLIST, quantizer="sample").save(croot)
            cells = spark.read.parquet(f"{croot}/assignments").select(
                "id", "cell"
            )
            cb = pq_codebooks(train, m=_PQ_M, ksub=_PQ_KSUB, dim=64)
            # codes + encode log from ONE scored-subs pass — the
            # separate-operators spelling scored every (subvector,
            # centroid) pair twice and dominated this group's staging
            codes, log, handle = pq_encode_with_error(
                corpus, cb, m=_PQ_M, dim=64
            )
            st = sq_stats(train)
            # five INDEPENDENT table writes (codes/log share one
            # cached scored-subs pass; sq_codes consumes the st FRAME,
            # not its file) — overlapped from a driver pool per guide
            # §2.6, and the model-sized tables (codebooks m×ksub rows,
            # sq_stats 1 row) coalesce to one file each: at 2k-row
            # fixture scale the staging wall is per-write commit
            # overhead, not bytes (it polluted whichever query's sweep
            # slot touched the group first — measured 17.9 s cold,
            # ~9 s after this change)
            jobs = [
                lambda: cb.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{croot}/codebooks"),
                lambda: codes.join(cells, "id")
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(f"{croot}/pq_codes"),
                lambda: log.withColumn(
                    "batch_id", F.expr(f"id DIV {_DRIFT_BATCH}").cast("bigint")
                )
                .write.mode("overwrite")
                .parquet(f"{croot}/encode_log"),
                lambda: st.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{croot}/sq_stats"),
                lambda: sq_encode(corpus, st, dim=64)
                .join(cells, "id")
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(f"{croot}/sq_codes"),
            ]
            run_jobs(jobs)
            handle.unpersist()
        else:  # pragma: no cover - registry-internal contract
            raise ValueError(f"unknown fixture group: {group}")
        _IVF_FIXTURE_STAGED.add((sf_dir, group))

    # distinct groups are INDEPENDENT surface sets (the only shared
    # piece, the base ivf index, is serialized behind _ensure_ivf's
    # lock) — stage them as overlapped driver jobs (guide §2.6):
    # sim_index_fsck's first touch stages three groups, and their
    # write-commit tails otherwise serialize ~9 s each
    todo = [g for g in dict.fromkeys(groups) if (sf_dir, g) not in _IVF_FIXTURE_STAGED]
    run_jobs([partial(_stage, g) for g in todo])
    return root


@query(
    "index_retire_ids",
    oracle=_IVF_CTES
    + f"""
    , assigned AS (
        SELECT id, cell FROM (
            SELECT c.id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    tomb AS (
        SELECT vec_id AS id FROM embeddings
        WHERE vec_id % {_RETIRE_MOD} = {_RETIRE_REM}
        UNION
        SELECT doc_id FROM documents
        WHERE doc_id % {_RETIRE_MOD} = {_RETIRE_REM}
    ),
    surv AS (
        SELECT id, cell FROM assigned
        WHERE id NOT IN (SELECT id FROM tomb)
    ),
    ivf_rows AS (
        SELECT 'ivf_members' AS surface, CAST(cell AS VARCHAR) AS key,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(id) AS BIGINT) AS id_sum
        FROM surv GROUP BY cell
    ),
    kept_docs AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT id FROM tomb)
    ),
    toks AS (
        SELECT doc_id, unnest({_BM25_TOKS}) AS term FROM kept_docs
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    term_rows AS (
        SELECT 'bm25_term' AS surface, term AS key,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(id) AS BIGINT) AS id_sum
        FROM tf GROUP BY term
    ),
    dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
    stat_row AS (
        SELECT 'bm25_stats' AS surface, '_stats' AS key,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS id_sum
        FROM dl
    ),
    log_row AS (
        SELECT 'decisions' AS surface, '_log' AS key,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM kept_docs
    )
    SELECT * FROM ivf_rows
    UNION ALL SELECT * FROM term_rows
    UNION ALL SELECT * FROM stat_row
    UNION ALL SELECT * FROM log_row
    """,
    description="id-retirement (take-down) propagation across every "
    "persisted surface - the deletion tier the append/compact/"
    "rebalance maintenance loops lacked: one durable tombstone list "
    "anti-joins the IVF inverted file (ivf_retire - dynamic partition "
    "overwrite of ONLY the touched cells, cold cells byte-untouched), "
    "folds OUT of the BM25 triple (bm25_retire - the exact algebraic "
    "inverse of bm25_merge: postings anti-join, df subtraction with "
    "df=0 terms dropping, 1-row stats subtraction, indistinguishable "
    "from a rebuild without the retired docs), and erases the ids' "
    "decision-log rows (log_retire). The audit reads every surface "
    "back FROM DISK - per-cell survivor counts/id-checksums, per-term "
    "df with a postings checksum, the stats row, the surviving log - "
    "and DuckDB replays it all from a ground-truth rebuild over the "
    "surviving corpus",
)
def index_retire_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.operators.retire import (
        bm25_retire_path,
        ivf_retire,
        log_retire,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    # day-1 persisted surfaces: the IVF inverted file, the BM25 triple,
    # and a one-scoring decisions log — staged once per session; the
    # retire passes MUTATE the ivf/decisions surfaces (dynamic partition
    # overwrite, in-place erase), so those are byte-copied into this
    # query's own scratch root; bm25 stays shared (dst_path retire
    # never opens the source for write)
    fixture = _staged_ivf_fixture(spark, sf_dir, "ivf", "bm25", "decisions")
    root = scratch_dir(prefix="retire_")
    shutil.copytree(f"{fixture}/ivf", f"{root}/ivf")
    shutil.copytree(f"{fixture}/decisions", f"{root}/decisions")
    tomb = (
        emb.select(F.col("vec_id").alias("id"))
        .unionByName(docs.select(F.col("doc_id").alias("id")))
        .filter(F.col("id") % _RETIRE_MOD == _RETIRE_REM)
        .distinct()
    )
    ivf_retire(spark, f"{root}/ivf", tomb, members_table="assignments")
    bm = bm25_retire_path(spark, f"{fixture}/bm25", tomb, dst_path=f"{root}/bm25_v2")
    log_retire(spark, f"{root}/decisions", tomb)
    # audit, read back from DISK — never log_retire's return value,
    # which is None on the untouched-log short-circuit (advice r16:
    # the %7 tombstones happen to always hit this fixture today, but
    # a fixture/SF change must degrade to scoring the unchanged log,
    # not crash)
    log = spark.read.parquet(f"{root}/decisions")
    members = spark.read.parquet(f"{root}/ivf/assignments")
    ivf_rows = (
        members.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
        .select(
            F.lit("ivf_members").alias("surface"),
            F.col("cell").cast("string").alias("key"),
            "n",
            "id_sum",
        )
    )
    # full-outer df⋈postings: an operator bug that keeps a df row whose
    # postings are gone (or vice versa) surfaces as a -1 mismatch
    psum = bm.postings.groupBy("term").agg(F.sum("id").cast("bigint").alias("id_sum"))
    term_rows = bm.dfs.join(psum, "term", "full_outer").select(
        F.lit("bm25_term").alias("surface"),
        F.col("term").alias("key"),
        F.coalesce(F.col("df"), F.lit(-1)).cast("bigint").alias("n"),
        F.coalesce(F.col("id_sum"), F.lit(-1)).cast("bigint").alias("id_sum"),
    )
    stat_row = bm.stats.select(
        F.lit("bm25_stats").alias("surface"),
        F.lit("_stats").alias("key"),
        F.col("n_docs").alias("n"),
        F.col("total_len").alias("id_sum"),
    )
    log_row = log.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("id").cast("bigint").alias("id_sum"),
    ).select(
        F.lit("decisions").alias("surface"), F.lit("_log").alias("key"), "n", "id_sum"
    )
    return (
        ivf_rows.unionByName(term_rows).unionByName(stat_row).unionByName(log_row)
    )


def _drift_oracle() -> str:
    from auraverse_etl_pipeline_spark.operators.similarity import _DRIFT_FIXED_POINT

    fx = repr(_DRIFT_FIXED_POINT)
    avg_f = f"CAST(s_first AS DOUBLE) / CAST(n_first AS DOUBLE) / {fx}"
    avg_l = f"CAST(s_last AS DOUBLE) / CAST(n_last AS DOUBLE) / {fx}"
    return (
        _IVF_CTES
        + f"""
    , arr AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
               CAST(vec_id // {_DRIFT_BATCH} AS BIGINT) AS batch_id
        FROM embeddings
    ),
    a AS (
        SELECT id, batch_id, cell, cs FROM (
            SELECT arr.id, arr.batch_id, cent.cell,
                   LEAST(CAST(1.0 AS DOUBLE),
                         list_cosine_similarity(arr.v, cent.centroid)) AS cs,
                   ROW_NUMBER() OVER (PARTITION BY arr.id
                       ORDER BY LEAST(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(arr.v, cent.centroid))
                                DESC, cent.cell) AS rn
            FROM arr CROSS JOIN cent
        ) WHERE rn = 1
    ),
    pb AS (
        SELECT cell, batch_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(cs * {fx}) AS BIGINT)) AS BIGINT) AS s
        FROM a GROUP BY cell, batch_id
    ),
    pc AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               MIN(batch_id) AS first_batch, MAX(batch_id) AS last_batch,
               arg_min(n, batch_id) AS n_first, arg_max(n, batch_id) AS n_last,
               arg_min(s, batch_id) AS s_first, arg_max(s, batch_id) AS s_last
        FROM pb GROUP BY cell
    ),
    calc AS (
        SELECT cell, n_batches, first_batch, last_batch, n_first, n_last,
               {avg_f} AS avg_cos_first, {avg_l} AS avg_cos_last
        FROM pc
    )
    SELECT CAST(cell AS BIGINT) AS cell, n_batches, first_batch, last_batch,
           n_first, n_last, avg_cos_first, avg_cos_last,
           avg_cos_last - avg_cos_first AS drift,
           avg_cos_last - avg_cos_first < {-_DRIFT_TAU!r} AS retrain
    FROM calc
    """
    )


@query(
    "sim_quantizer_drift_audit",
    oracle=_drift_oracle(),
    description="per-cell quantizer-fit TREND over the gate decision "
    "log - the temporal twin of sim_ivf_occupancy_audit and the "
    "retrain trigger the maintenance loop lacked: occupancy measures "
    "skew and fires rebalance, but a drifting stream decays each "
    "arrival's centroid_cos and silently erodes probe recall with no "
    "cell ever running hot. Every gate scoring already records "
    "(cell, centroid_cos, batch), so the signal is one fixed-width "
    "aggregate over the log down to (cells x batches) rows, then "
    "min_by/max_by endpoint batches per cell - never a window sort. "
    "Per-batch means are fixed-point (floor(cos*2^40) BIGINT sums - "
    "no float crosses an unordered aggregate) recovered with two IEEE "
    "divisions spelled identically in DuckDB, so drift and the "
    "retrain flag replay digit-for-digit",
)
def sim_quantizer_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        quantizer_drift_audit,
    )

    # the decisions-log surface the audit reads: every arrival's
    # (cell, centroid_cos) at scoring time, batched by arrival order —
    # staged to parquet exactly as the gates append it (shared day-1
    # fixture; this query only READS the log, so no copy)
    fixture = _staged_ivf_fixture(spark, sf_dir, "drift_log")
    log = spark.read.parquet(f"{fixture}/drift_log")
    out = quantizer_drift_audit(log, drift_threshold=_DRIFT_TAU)
    return out.withColumn("cell", F.col("cell").cast("bigint"))


def _retrain_oracle() -> str:
    """DuckDB replica of retrain_gate_index over the staged gate
    surface: the members' (id, v) feed the deterministic Lloyd re-fit
    (sample init over the nlist lowest-id members, 2 clamped-cosine/
    fixed-point-mean rounds — the _lloyd_chain fragment pinned
    digit-for-digit in tests/test_retire.py), then every member's
    final clamped argmax assignment against the re-fit centroids."""
    chain, prev = _lloyd_chain("m", _IVF_NLIST, 2)
    return (
        """
    WITH m AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
        + chain
        + f"""
    SELECT id, cell, centroid_cos FROM (
        SELECT m.id, CAST(ct.cell AS BIGINT) AS cell,
               LEAST(CAST(1.0 AS DOUBLE),
                     list_cosine_similarity(m.v, ct.centroid)) AS centroid_cos,
               ROW_NUMBER() OVER (PARTITION BY m.id
                   ORDER BY LEAST(CAST(1.0 AS DOUBLE),
                                  list_cosine_similarity(m.v, ct.centroid))
                            DESC, ct.cell) AS rn
        FROM m CROSS JOIN {prev} ct
    ) WHERE rn = 1
    """
    )


@query(
    "sim_retrain_audit",
    oracle=_retrain_oracle(),
    description="the maintenance triad's EXPENSIVE pass, oracle-gated "
    "end to end: sim_quantizer_drift_audit's retrain flag fires "
    "retrain_gate_index, which re-FITS the gate index's coarse "
    "quantizer over its current members (deterministic in-engine "
    "Lloyd: sample init + 2 clamped-cosine/DECIMAL-fixed-point-mean "
    "rounds, no RNG) and rewrites BOTH persisted tables "
    "members-first/centroids-last (the crash posture: new labels "
    "under old centroids still answer probes, and the idempotent "
    "re-run converges). The query copies the staged day-1 gate "
    "surface, runs the retrain against DISK, and returns every "
    "member's post-retrain (cell, centroid_cos) read back from the "
    "rewritten members table; DuckDB replays sample init, both Lloyd "
    "rounds and the final clamped argmax digit-for-digit via the "
    "_lloyd_chain MATERIALIZED-CTE fragment (the sim_ivf_lloyd "
    "discipline) - so the full re-fit, not a summary, is the scored "
    "artifact. Registered r15 from the r14 staging note; the pinned "
    "twin is tests/test_retire.py::"
    "test_retrain_gate_index_parity_vs_duckdb",
)
def sim_retrain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.streaming.ops import retrain_gate_index

    # retrain is a full in-place rewrite of both tables — byte-copy the
    # staged day-1 surface into this query's own scratch root
    fixture = _staged_ivf_fixture(spark, sf_dir, "retrain")
    root = scratch_dir(prefix="retrain_audit_")
    shutil.copytree(f"{fixture}/retrain", root, dirs_exist_ok=True)
    retrain_gate_index(spark, root, max_iter=2)
    members = spark.read.parquet(f"{root}/members")
    return members.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("cell").cast("bigint").alias("cell"),
        F.col("centroid_cos").alias("centroid_cos"),
    )


#: Deterministic Lloyd quantizer geometry for the oracle-gated tier.
_LLOYD_NLIST = 8
_LLOYD_ITERS = 2


def _lloyd_oracle() -> str:
    """DuckDB replica of the Lloyd quantizer build + final assignment
    populations over the full embeddings table."""
    chain, prev = _lloyd_chain("corpus", _LLOYD_NLIST, _LLOYD_ITERS)
    return (
        """
    WITH corpus AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
        + chain
        + f""",
    af AS (
        SELECT id, cell FROM (
            SELECT x.id, ct.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.id
                       ORDER BY least(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(x.v, ct.centroid))
                                    DESC,
                                ct.cell) AS rn
            FROM corpus x CROSS JOIN {prev} ct
        ) WHERE rn = 1
    ),
    pop AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members FROM af GROUP BY cell)
    SELECT CAST(ct.cell AS BIGINT) AS cell,
           CAST(r.i - 1 AS BIGINT) AS dim,
           ct.centroid[r.i] AS value,
           COALESCE(p.n_members, 0) AS n_members
    FROM {prev} ct CROSS JOIN range(1, 65) r(i)
    LEFT JOIN pop p ON p.cell = ct.cell
    """
    )


@query(
    "sim_ivf_lloyd",
    oracle=_lloyd_oracle(),
    description="DETERMINISTIC in-engine Lloyd/k-means quantizer "
    "training, fully oracle-gated: sample init (nlist lowest-id "
    "vectors), 2 rounds of clamped exact-fold cosine assignment + "
    "per-cell DECIMAL-partial mean updates (spherical k-means - the "
    "plain mean is equivalent under scale-invariant cosine argmax), "
    "emptied cells keep their centroid. Output = final centroids "
    "exploded to (cell, dim, value) plus each cell's member count - "
    "the oracle replays BOTH the trained quantizer and the final "
    "assignment digit-for-digit via unrolled MATERIALIZED iteration "
    "CTEs (the BPE-train discipline). Real data-driven centroids "
    "with none of the MLlib KMeans RNG dependence",
)
def sim_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(
        emb, nlist=_LLOYD_NLIST, quantizer="lloyd", max_iter=_LLOYD_ITERS
    )
    pop = idx.assignments.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        idx.centroids.select("cell", F.posexplode("centroid").alias("dim", "value"))
        .join(pop, "cell", "left")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("dim").cast("bigint").alias("dim"),
            "value",
            F.coalesce("n_members", F.lit(0).cast("bigint")).alias("n_members"),
        )
    )


#: Product-quantization geometry for the oracle-gated tier: 64-dim
#: embeddings cut into 16 subspaces of 4 components, 64 sample
#: centroids each (the ksub lowest-id corpus vectors — deterministic,
#: like the IVF sample quantizer). ADC shortlists 50, exact re-rank
#: keeps 5 (recall of exact top-5 pinned in pytest).
_PQ_M = 16
_PQ_KSUB = 64
_PQ_DSUB = 64 // _PQ_M
_PQ_SHORTLIST = 50


def _l2sq_sql(a: str, b: str) -> str:
    """DuckDB spelling of the ordered squared-L2 fold — bit-identical
    to similarity.l2_sq_expr's native fold (sequential accumulation)."""
    return (
        f"list_sum(list_transform(range(1, len({a})+1), "
        f"j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j])))"
    )


_PQ_CTES = f"""
    WITH c AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    sr AS (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS sub),
    cb AS (
        SELECT sr.sub, b.code,
               b.v[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS centroid
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS code, v
              FROM (SELECT id, v FROM c ORDER BY id LIMIT {_PQ_KSUB})) b
        CROSS JOIN sr
    ),
    subs AS (
        SELECT id, sr.sub,
               v[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS subv
        FROM c CROSS JOIN sr
    ),
    enc AS (
        SELECT id, sub, code FROM (
            SELECT subs.id, subs.sub, cb.code,
                   ROW_NUMBER() OVER (PARTITION BY subs.id, subs.sub
                       ORDER BY {_l2sq_sql("subv", "centroid")} ASC, cb.code) AS rn
            FROM subs JOIN cb USING (sub)
        ) WHERE rn = 1
    )
"""


@query(
    "sim_pq_codes",
    oracle=_PQ_CTES
    + """
    SELECT id AS vec_id, sub, code FROM enc
    """,
    description="product-quantization ENCODE parity: 64-dim vectors "
    "cut into 16 subspaces, each mapped to its nearest of 64 sample "
    "centroids (min ordered-fold L2^2, ties to the lowest code) - 16 "
    "small ints replace 64 floats, the 8-16x compression that lets a "
    "100 TB embedding corpus ANN-scan from compressed codes. Codebooks "
    "broadcast, argmin is a map-side-combined max_by; DuckDB replays "
    "codebook construction and every code digit-for-digit",
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    cb = pq_codebooks(corpus, m=_PQ_M, ksub=_PQ_KSUB, dim=64)
    return pq_encode(corpus, cb, m=_PQ_M, dim=64).select(
        F.col("id").alias("vec_id"), "sub", "code"
    )


@query(
    "sim_pq_search",
    oracle=_PQ_CTES
    + f"""
    , lut AS (
        SELECT q2.query_id, cb.sub, cb.code, {_l2sq_sql("qsub", "centroid")} AS pd
        FROM (SELECT query_id, sr.sub,
                     qv[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS qsub
              FROM q CROSS JOIN sr) q2
        JOIN cb ON q2.sub = cb.sub
    ),
    adc AS (
        SELECT l.query_id, e.id AS neighbor_id,
               CAST(SUM(CAST(l.pd AS DECIMAL(38,12))) AS DOUBLE) AS approx_dist
        FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, l2_sq FROM (
        SELECT s.query_id, s.neighbor_id, {_l2sq_sql("q.qv", "c.v")} AS l2_sq,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {_l2sq_sql("q.qv", "c.v")} ASC, s.neighbor_id) AS rank
        FROM short s
        JOIN c ON c.id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rank <= 5
    """,
    description="PQ retrieval end to end, the production shape: ADC "
    "over the compressed codes shortlists 50 candidates per query "
    "(LUT broadcast, the raw corpus never read; per-pair sums are "
    "DECIMAL partials so the hash aggregate is order-independent), "
    "then exact L2^2 re-ranks the true top-5 over only the shortlist. "
    "Generate-then-verify, same contract as the LSH tiers; recall of "
    "the exact top-5 pinned in pytest. DuckDB replays codebooks, "
    "codes, LUT, shortlist and re-rank digit-for-digit",
)
def sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    cb = pq_codebooks(corpus, m=_PQ_M, ksub=_PQ_KSUB, dim=64)
    codes = pq_encode(corpus, cb, m=_PQ_M, dim=64)
    out = pq_topk_rerank(
        queries, codes, cb, corpus, k=5, shortlist=_PQ_SHORTLIST
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: PQ drift-trigger geometry: day-1 codebooks fit the training batch
#: best, so later arrival batches carry visibly higher reconstruction
#: error (measured ~0.083 -> ~0.234 at sf0.01) — 0.1 puts the flag on
#: the real signal, not on noise.
_PQ_DRIFT_TAU = 0.1


def _pq_drift_oracle() -> str:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        _DRIFT_FIXED_POINT,
    )

    fx = repr(_DRIFT_FIXED_POINT)
    avg_f = f"CAST(s_first AS DOUBLE) / CAST(n_first AS DOUBLE) / {fx}"
    avg_l = f"CAST(s_last AS DOUBLE) / CAST(n_last AS DOUBLE) / {fx}"
    return f"""
    WITH c AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    sr AS (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS sub),
    cb AS (
        SELECT sr.sub, b.code,
               b.v[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS centroid
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS code, v
              FROM (SELECT id, v FROM c ORDER BY id LIMIT {_PQ_KSUB})) b
        CROSS JOIN sr
    ),
    alls AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    subs AS (
        SELECT id, sr.sub,
               v[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS subv
        FROM alls CROSS JOIN sr
    ),
    mind AS (
        SELECT id, sub, MIN({_l2sq_sql("subv", "centroid")}) AS d
        FROM subs JOIN cb USING (sub) GROUP BY id, sub
    ),
    qe AS (
        SELECT id, list_sum(list(d ORDER BY sub)) AS qerr
        FROM mind GROUP BY id
    ),
    pb AS (
        SELECT CAST(id // {_DRIFT_BATCH} AS BIGINT) AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(CAST(floor(qerr * {fx}) AS BIGINT) AS DECIMAL(38,0))) AS s
        FROM qe GROUP BY 1
    ),
    pc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
               MIN(batch_id) AS first_batch, MAX(batch_id) AS last_batch,
               arg_min(n, batch_id) AS n_first, arg_max(n, batch_id) AS n_last,
               arg_min(s, batch_id) AS s_first, arg_max(s, batch_id) AS s_last
        FROM pb
    ),
    calc AS (
        SELECT n_batches, first_batch, last_batch, n_first, n_last,
               {avg_f} AS avg_err_first, {avg_l} AS avg_err_last
        FROM pc
    )
    SELECT n_batches, first_batch, last_batch, n_first, n_last,
           avg_err_first, avg_err_last,
           avg_err_last - avg_err_first AS drift,
           avg_err_last - avg_err_first > {_PQ_DRIFT_TAU!r} AS retrain
    FROM calc
    """


@query(
    "sim_pq_drift_audit",
    oracle=_pq_drift_oracle(),
    description="codebook-fit trend over the PQ encode log - the "
    "compressed-family member of the drift-trigger family "
    "(coarse: centroid_cos decay per cell; PQ: reconstruction-error "
    "rise, corpus-wide) and the signal that fires retrain_pq_index "
    "inside compressed_index_tick. The staged log is every vector's "
    "qerr against FROZEN day-1 sample codebooks, batched by arrival "
    "order - the day-1 training batch fits best, so later batches "
    "carry genuinely higher error and the retrain flag fires on real "
    "distributional structure. Engine-exactness chain: per-(id,sub) "
    "L2^2 is the ordered fold (bit-identical across engines), qerr "
    "is a sub-order sequential fold (DuckDB list_sum replays it - "
    "probed 0/3000; DECIMAL partials are banned here because "
    "floor(qerr*2^40) downstream turns a half-tie rounding "
    "divergence into a full fixed-point unit), per-batch means are "
    "floor-fixed-point DECIMAL(38,0) sums (qerr is unbounded - a "
    "BIGINT sum could wrap on unnormalized vectors), endpoints via "
    "min_by/max_by - never a window sort over the log. Registered "
    "r16 from the r15 staging note; the trigger->retrain->cleared "
    "loop is pinned in tests/test_retire.py",
)
def sim_pq_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import pq_drift_audit

    # the encode-log surface pq_encode writes next to the codes —
    # staged once per session (this query only READS it, so no copy)
    fixture = _staged_ivf_fixture(spark, sf_dir, "pq")
    log = spark.read.parquet(f"{fixture}/pq/encode_log")
    return pq_drift_audit(log, drift_threshold=_PQ_DRIFT_TAU)


#: Lloyd-trained PQ geometry for the oracle-gated tier (smaller ksub
#: than the sample tier so two unrolled training rounds stay cheap in
#: the oracle: 500 ids × 16 subs × 16 codes per assignment).
_PQL_KSUB = 16
_PQL_ITERS = 2


def _pq_lloyd_cte_chain(corpus: str, ksub: int, iters: int) -> tuple[str, str]:
    """CTE fragment (leading comma) replaying
    ``pq_codebooks(quantizer='lloyd')`` over an already-defined CTE
    ``{corpus}(id, v)``: per-subspace sample init, then unrolled
    rounds of ordered-fold L2 argmin assignment (ties to the lowest
    code) + per-(sub, code) fixed-point means (emptied codes keep
    their centroid). Defines ``sr``/``subs``/``k0..k{iters}``/...;
    returns ``(fragment, final_codebook_cte)``. ALL subspaces run
    through the same CTEs — the grouped shape the Spark operator
    uses, not per-subspace chains. Shared by ``sim_pq_lloyd`` (the
    day-1 train) and ``sim_compressed_tick`` (the retrain-over-
    survivors replay)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        _LLOYD_FIXED_POINT as fx,
    )

    d = _PQ_DSUB
    parts = [
        f""",
    sr AS (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS sub),
    subs AS MATERIALIZED (
        SELECT id, sr.sub,
               v[sr.sub*{d}+1 : sr.sub*{d}+{d}] AS subv
        FROM {corpus} CROSS JOIN sr
    ),
    k0 AS MATERIALIZED (
        SELECT sub, code, centroid FROM (
            SELECT sub,
                   CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY id) - 1
                        AS INTEGER) AS code,
                   subv AS centroid
            FROM subs
        ) WHERE code < {ksub}
    )"""
    ]
    prev = "k0"
    for it in range(1, iters + 1):
        parts.append(
            f""",
    p{it} AS MATERIALIZED (
        SELECT id, sub, subv, code FROM (
            SELECT subs.id, subs.sub, subs.subv, kb.code,
                   ROW_NUMBER() OVER (PARTITION BY subs.id, subs.sub
                       ORDER BY {_l2sq_sql("subv", "centroid")} ASC, kb.code)
                     AS rn
            FROM subs JOIN {prev} kb USING (sub)
        ) WHERE rn = 1
    ),
    w{it} AS MATERIALIZED (
        SELECT sub, code, r.i AS i,
               CAST(SUM(CAST(floor(subv[r.i] * {fx!r}) AS DECIMAL(38,0)))
                    AS DOUBLE) / COUNT(*) / {fx!r} AS val
        FROM p{it}, range(1, {d + 1}) r(i) GROUP BY sub, code, r.i
    ),
    k{it} AS MATERIALIZED (
        SELECT sub, code, array_agg(val ORDER BY i) AS centroid
        FROM w{it} GROUP BY sub, code
        UNION ALL
        SELECT kb.sub, kb.code, kb.centroid FROM {prev} kb
        WHERE NOT EXISTS (SELECT 1 FROM w{it} w
                          WHERE w.sub = kb.sub AND w.code = kb.code)
    )"""
        )
        prev = f"k{it}"
    return "".join(parts), prev


def _pq_lloyd_oracle() -> str:
    """DuckDB replica of pq_codebooks(quantizer='lloyd') over the
    corpus split, then the final encode's code populations — the
    training chain itself lives in :func:`_pq_lloyd_cte_chain`."""
    d = _PQ_DSUB
    chain, prev = _pq_lloyd_cte_chain("c", _PQL_KSUB, _PQL_ITERS)
    return (
        """
    WITH c AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    )"""
        + chain
        + f""",
    pf AS (
        SELECT id, sub, code FROM (
            SELECT subs.id, subs.sub, kb.code,
                   ROW_NUMBER() OVER (PARTITION BY subs.id, subs.sub
                       ORDER BY {_l2sq_sql("subv", "centroid")} ASC, kb.code)
                     AS rn
            FROM subs JOIN {prev} kb USING (sub)
        ) WHERE rn = 1
    ),
    pop AS (
        SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM pf GROUP BY sub, code
    )
    SELECT CAST(kb.sub AS BIGINT) AS sub, CAST(kb.code AS BIGINT) AS code,
           CAST(r.i - 1 AS BIGINT) AS dim, kb.centroid[r.i] AS value,
           COALESCE(pop.n_members, 0) AS n_members
    FROM {prev} kb CROSS JOIN range(1, {d + 1}) r(i)
    LEFT JOIN pop ON pop.sub = kb.sub AND pop.code = kb.code
    """
    )


@query(
    "sim_pq_lloyd",
    oracle=_pq_lloyd_oracle(),
    description="deterministic TRAINED product-quantization codebooks, "
    "fully oracle-gated: per-subspace sample init, 2 rounds of "
    "ordered-fold L2 argmin assignment + fixed-point per-(sub, code) "
    "mean updates - classic PQ training (the quality the MLlib KMeans "
    "mode buys) with an engine-portable build. ALL 16 subspaces train "
    "in ONE distributed aggregate per round (the MLlib mode pays 16 "
    "sequential fits); output = trained codebooks exploded to (sub, "
    "code, dim, value) plus each code's final-encode population, "
    "replayed digit-for-digit by unrolled MATERIALIZED iteration CTEs",
)
def sim_pq_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    cb = pq_codebooks(
        corpus, m=_PQ_M, ksub=_PQL_KSUB, dim=64,
        quantizer="lloyd", max_iter=_PQL_ITERS,
    )
    pop = (
        pq_encode(corpus, cb, m=_PQ_M, dim=64)
        .groupBy("sub", "code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )
    return (
        cb.select("sub", "code", F.posexplode("centroid").alias("dim", "value"))
        .join(pop, ["sub", "code"], "left")
        .select(
            F.col("sub").cast("bigint").alias("sub"),
            F.col("code").cast("bigint").alias("code"),
            F.col("dim").cast("bigint").alias("dim"),
            "value",
            F.coalesce("n_members", F.lit(0).cast("bigint")).alias("n_members"),
        )
    )


def _compressed_tick_oracle() -> str:
    """From-scratch deterministic rebuild of everything
    ``compressed_index_tick`` leaves on disk for the staged drifted
    surface: survivors of the retire (the tick's first stage), the
    Lloyd-PQ re-fit + re-encode over exactly those survivors (the PQ
    drift audit FIRES on the staged log — verified ~0.15 > 0.1 at
    both test SFs, with or without the retired rows), and the STALE
    SQ codes (the clamp audit reads ~0.004 saturation, far under
    0.25, so the SQ pass self-quenches and the surviving codes are
    the day-1 encode minus the retired ids). The retrained/quenched
    flags are part of the scored schema, so a trigger flipping at
    some SF would mismatch loudly, not silently."""
    chain, prev = _pq_lloyd_cte_chain("surv", _PQL_KSUB, _PQL_ITERS)
    return (
        f"""
    WITH surv AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % {_RETIRE_MOD} != {_RETIRE_REM}
    )"""
        + chain
        + f""",
    pf AS (
        SELECT id, sub, code FROM (
            SELECT subs.id, subs.sub, kb.code,
                   ROW_NUMBER() OVER (PARTITION BY subs.id, subs.sub
                       ORDER BY {_l2sq_sql("subv", "centroid")} ASC, kb.code)
                     AS rn
            FROM subs JOIN {prev} kb USING (sub)
        ) WHERE rn = 1
    ),
    pqs AS (
        SELECT id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS pq_sig
        FROM pf GROUP BY id
    ),
    c0 AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS dj),
    per AS MATERIALIZED (
        SELECT dj, MIN(v[dj]) AS vmin, MAX(v[dj]) AS vmax
        FROM c0 CROSS JOIN dims GROUP BY dj
    ),
    sqs AS (
        SELECT id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY dj) AS sq_sig
        FROM (
            SELECT surv.id, p.dj,
                   CASE WHEN p.vmax = p.vmin THEN 0
                        ELSE least(255, greatest(0,
                             CAST(floor((surv.v[p.dj] - p.vmin) * 255.0
                                        / (p.vmax - p.vmin)) AS BIGINT)))
                   END - 128 AS code
            FROM surv CROSS JOIN per p
        ) GROUP BY id
    )
    SELECT pqs.id, pqs.pq_sig, sqs.sq_sig,
           TRUE AS pq_retrained, FALSE AS sq_retrained
    FROM pqs JOIN sqs USING (id)
    """
    )


@query(
    "sim_compressed_tick",
    oracle=_compressed_tick_oracle(),
    description="the compressed-family maintenance TICK end to end, "
    "oracle-gated against disk - the composition the r15 tier built "
    "(registered r16 from the staged ledger note): one cron-able "
    "call retires a durable tombstone list from every surface of a "
    "staged DRIFTED day-1 IVF-PQ/SQ layout (members + both code "
    "tables + the encode log, touched-partitions-only), reads the "
    "retired log's genuinely-risen qerr trend, fires the "
    "qerr-watermarked Lloyd-PQ re-fit over the SURVIVING members "
    "(codes-first/model-last), and self-quenches the SQ pass on a "
    "healthy ~0.4% saturation level. The scored artifact is the "
    "post-tick disk state - every survivor's full PQ code word and "
    "SQ byte array as order-pinned signatures plus both trigger "
    "flags - and DuckDB replays the retire arithmetic, the sample-"
    "init/fixed-point-mean Lloyd rounds, the re-encode, and the "
    "stale SQ encode digit-for-digit. The crash/idempotence pins "
    "live in tests/test_retire.py",
)
def sim_compressed_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_tick

    emb = load_table(spark, sf_dir, "embeddings")
    # the tick mutates every surface (retire's dynamic overwrite, the
    # re-fit's full rewrite) — byte-copy the staged day-1 layout into
    # this query's own scratch root (the sim_retrain_audit discipline)
    fixture = _staged_ivf_fixture(spark, sf_dir, "compressed")
    root = scratch_dir(prefix="ctick_")
    shutil.copytree(f"{fixture}/compressed", root, dirs_exist_ok=True)
    # caller-owned DURABLE tombstone list (never derived from the
    # surface being retired — the r14 FAILED_READ_FILE lesson)
    tomb_path = f"{root}/_tombstones"
    emb.select(F.col("vec_id").alias("id")).filter(
        F.col("id") % _RETIRE_MOD == _RETIRE_REM
    ).write.parquet(tomb_path)
    summary = compressed_index_tick(
        spark,
        root,
        tombstones_path=tomb_path,
        m=_PQ_M,
        ksub=_PQL_KSUB,
        max_iter=_PQL_ITERS,
        dim=64,
        qerr_threshold=_PQ_DRIFT_TAU,
    )
    # score what is ON DISK after the tick, not the summary dict
    pq_sig = (
        spark.read.parquet(f"{root}/pq_codes")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("_sc"))
        .select(
            "id",
            F.concat_ws(
                ",", F.transform("_sc", lambda x: x["code"].cast("string"))
            ).alias("pq_sig"),
        )
    )
    sq_sig = spark.read.parquet(f"{root}/sq_codes").select(
        "id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("sq_sig"),
    )
    return pq_sig.join(sq_sig, "id").select(
        F.col("id").cast("bigint").alias("id"),
        "pq_sig",
        "sq_sig",
        F.lit(bool(summary["pq_retrained"])).alias("pq_retrained"),
        F.lit(bool(summary["sq_retrained"])).alias("sq_retrained"),
    )


def _compressed_append_oracle() -> str:
    """From-scratch rebuild of the post-append disk state: every model
    (centroids, codebooks, per-dim SQ ranges) trains on the day-1
    split only, then cells/codes/bytes are derived for ALL ids with
    the SAME frozen-model formulas — exactly the
    ``compressed_index_append`` contract (day-2 rows encode against
    yesterday's models, no refit ever). The encode-log stamp is the
    day-1 arrival batch for day-1 rows and max(day-1 batch)+1 for the
    appended quarter (the auto-stamped watermark the drift audit
    trends on) — a day-2 row carrying a day-1 stamp, a refit code, or
    a missing surface row all hash-mismatch loudly."""
    d = _PQ_DSUB
    return f"""
    WITH d1 AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % {_APPEND_MOD} != {_APPEND_REM}
    ),
    alls AS MATERIALIZED (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM d1 ORDER BY id LIMIT {_IVF_NLIST})
    ),
    assigned AS (
        SELECT id, cell FROM (
            SELECT a.id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY a.id
                       ORDER BY list_cosine_similarity(a.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM alls a CROSS JOIN cent
        ) WHERE rn = 1
    ),
    sr AS (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS sub),
    cb AS (
        SELECT sr.sub, b.code,
               b.v[sr.sub*{d}+1 : sr.sub*{d}+{d}] AS centroid
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS code, v
              FROM (SELECT id, v FROM d1 ORDER BY id LIMIT {_PQ_KSUB})) b
        CROSS JOIN sr
    ),
    subs AS (
        SELECT id, sr.sub,
               v[sr.sub*{d}+1 : sr.sub*{d}+{d}] AS subv
        FROM alls CROSS JOIN sr
    ),
    pf AS (
        SELECT id, sub, code FROM (
            SELECT subs.id, subs.sub, cb.code,
                   ROW_NUMBER() OVER (PARTITION BY subs.id, subs.sub
                       ORDER BY {_l2sq_sql("subv", "centroid")} ASC, cb.code)
                     AS rn
            FROM subs JOIN cb USING (sub)
        ) WHERE rn = 1
    ),
    pqs AS (
        SELECT id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS pq_sig
        FROM pf GROUP BY id
    ),
    dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS dj),
    per AS MATERIALIZED (
        SELECT dj, MIN(v[dj]) AS vmin, MAX(v[dj]) AS vmax
        FROM d1 CROSS JOIN dims GROUP BY dj
    ),
    sqs AS (
        SELECT id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY dj) AS sq_sig
        FROM (
            SELECT a.id, p.dj,
                   CASE WHEN p.vmax = p.vmin THEN 0
                        ELSE least(255, greatest(0,
                             CAST(floor((a.v[p.dj] - p.vmin) * 255.0
                                        / (p.vmax - p.vmin)) AS BIGINT)))
                   END - 128 AS code
            FROM alls a CROSS JOIN per p
        ) GROUP BY id
    ),
    wm AS (SELECT MAX(id // {_DRIFT_BATCH}) AS w FROM d1)
    SELECT assigned.id, CAST(assigned.cell AS BIGINT) AS cell,
           pqs.pq_sig, sqs.sq_sig,
           CAST(CASE WHEN assigned.id % {_APPEND_MOD} != {_APPEND_REM}
                     THEN assigned.id // {_DRIFT_BATCH}
                     ELSE wm.w + 1 END AS BIGINT) AS log_batch
    FROM assigned JOIN pqs USING (id) JOIN sqs USING (id) CROSS JOIN wm
    """


@query(
    "sim_compressed_append",
    oracle=_compressed_append_oracle(),
    description="the compressed family's day-2 INGEST end to end, "
    "oracle-gated against disk (registered r17 from the r16 staged "
    "ledger note - the last unregistered leg of the append -> audit "
    "-> retrain -> retire -> fsck lifecycle): a held-out quarter of "
    "the corpus arrives at a persisted day-1 IVF-PQ/SQ layout and "
    "compressed_index_append ingests it against the FROZEN day-1 "
    "models (cells from yesterday's centroids, PQ codes + the qerr "
    "encode-log row from yesterday's codebooks, SQ bytes from "
    "yesterday's ranges - no refit ever, drift accumulates in the "
    "log until the tick's audits fire), codes-first/members-LAST "
    "crash order, per-surface idempotent anti-joins, the log row "
    "auto-stamped max(batch_id)+1. The scored artifact is the "
    "post-append disk state - every id's cell, full PQ code word and "
    "SQ byte array as order-pinned signatures, plus its encode-log "
    "batch stamp - and DuckDB rebuilds all of it from the day-1 "
    "split with the same frozen-model formulas. The idempotence / "
    "crash-heal / closed-loop-with-the-tick pins live in "
    "tests/test_retire.py",
)
def sim_compressed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_append

    emb = load_table(spark, sf_dir, "embeddings")
    # append MUTATES every surface (four partitioned appends + the log
    # write) — byte-copy the staged day-1 layout into this query's own
    # scratch root (the sim_compressed_tick discipline), so a re-run
    # still ingests into virgin day-1 state
    fixture = _staged_ivf_fixture(spark, sf_dir, "cappend")
    root = scratch_dir(prefix="cappend_")
    shutil.copytree(f"{fixture}/cappend", root, dirs_exist_ok=True)
    batch = emb.filter(F.col("vec_id") % _APPEND_MOD == _APPEND_REM)
    compressed_index_append(spark, root, batch, m=_PQ_M, dim=64)
    # score what is ON DISK after the append, never the summary dict
    members = spark.read.parquet(f"{root}/assignments").select(
        "id", F.col("cell").cast("bigint").alias("cell")
    )
    pq_sig = (
        spark.read.parquet(f"{root}/pq_codes")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("_sc"))
        .select(
            "id",
            F.concat_ws(
                ",", F.transform("_sc", lambda x: x["code"].cast("string"))
            ).alias("pq_sig"),
        )
    )
    sq_sig = spark.read.parquet(f"{root}/sq_codes").select(
        "id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("sq_sig"),
    )
    logb = spark.read.parquet(f"{root}/encode_log").select(
        "id", F.col("batch_id").cast("bigint").alias("log_batch")
    )
    return (
        members.join(pq_sig, "id")
        .join(sq_sig, "id")
        .join(logb, "id")
        .select(
            F.col("id").cast("bigint").alias("id"),
            "cell",
            "pq_sig",
            "sq_sig",
            "log_batch",
        )
    )


#: The three planted-corruption id predicates for ``sim_index_fsck``,
#: deliberately coprime with each other and with every other fixture
#: predicate so the corruptions never alias.
_FSCK_GATE_MOD, _FSCK_GATE_REM = 41, 11
_FSCK_COMP_MOD, _FSCK_COMP_REM = 43, 13
_FSCK_BM25_MOD, _FSCK_BM25_REM = 37, 9


def _index_fsck_oracle() -> str:
    """Closed-form expected violation set: every count derives from
    the base tables under the SAME planted predicates the query used
    (never a hardcoded tally), zeros are structural (the corruption
    classes deliberately NOT planted), and the one marker check is 1
    by construction. The bm25 counts replay the tokenizer: a term's
    df goes stale iff a doomed doc carried it, and orphans iff ONLY
    doomed docs carried it."""
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({_BM25_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term),
    bt AS (
        SELECT term, COUNT(*) AS df,
               SUM(CASE WHEN doc_id % {_FSCK_BM25_MOD} = {_FSCK_BM25_REM}
                        THEN 1 ELSE 0 END) AS gone
        FROM tf GROUP BY term
    ),
    bm AS (
        SELECT CAST(COUNT(CASE WHEN gone > 0 THEN 1 END) AS BIGINT) AS mismatch,
               CAST(COUNT(CASE WHEN gone = df THEN 1 END) AS BIGINT) AS orphan,
               CAST(CASE WHEN SUM(gone) > 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS stats_bad
        FROM bt
    ),
    gv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
           WHERE vec_id % {_FSCK_GATE_MOD} = {_FSCK_GATE_REM}),
    cv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
           WHERE vec_id % {_FSCK_COMP_MOD} = {_FSCK_COMP_REM})
    SELECT 'gate' AS family, 'member_cell_without_centroid' AS "check",
           CAST(0 AS BIGINT) AS violations
    UNION ALL SELECT 'gate', 'duplicate_member_id', 0
    UNION ALL SELECT 'gate', 'duplicate_centroid_cell', 0
    UNION ALL SELECT 'gate', 'null_member_vector', 0
    UNION ALL SELECT 'gate', 'kept_decision_without_member', (SELECT n FROM gv)
    UNION ALL SELECT 'gate', 'pending_marker_present', 1
    UNION ALL SELECT 'compressed', 'member_without_pq_codes', 0
    UNION ALL SELECT 'compressed', 'orphan_pq_codes', (SELECT n FROM cv)
    UNION ALL SELECT 'compressed', 'pq_cell_disagrees_with_member', 0
    UNION ALL SELECT 'compressed', 'member_without_sq_codes', 0
    UNION ALL SELECT 'compressed', 'orphan_sq_codes', (SELECT n FROM cv)
    UNION ALL SELECT 'compressed', 'sq_cell_disagrees_with_member', 0
    UNION ALL SELECT 'compressed', 'pq_code_count_wrong', 0
    UNION ALL SELECT 'compressed', 'duplicate_pq_code_row', 0
    UNION ALL SELECT 'compressed', 'duplicate_sq_id', 0
    UNION ALL SELECT 'compressed', 'duplicate_codebook_entry', 0
    UNION ALL SELECT 'compressed', 'encode_log_orphan', (SELECT n FROM cv)
    UNION ALL SELECT 'bm25', 'df_posting_mismatch', (SELECT mismatch FROM bm)
    UNION ALL SELECT 'bm25', 'orphan_df_term', (SELECT orphan FROM bm)
    UNION ALL SELECT 'bm25', 'duplicate_posting', 0
    UNION ALL SELECT 'bm25', 'dl_inconsistent', 0
    UNION ALL SELECT 'bm25', 'stats_mismatch', (SELECT stats_bad FROM bm)
    """


@query(
    "sim_index_fsck",
    oracle=_index_fsck_oracle(),
    description="the between-ticks integrity story, driver-attested "
    "across ALL THREE index families in one composed pass: gate_index_"
    "fsck + compressed_index_fsck + bm25_fsck over one staged root "
    "carrying each family's signature RETIRE-CRASH corruption - the "
    "gate members lose a planted id slice while their kept decisions "
    "survive (the forgotten-log_retire fingerprint), the compressed "
    "members lose a disjoint slice while PQ/SQ codes and encode-log "
    "rows stay behind (the retire-that-skipped-the-followers "
    "fingerprint - orphans, unreachable and harmless until the next "
    "re-fit ages them out), and the BM25 postings lose a third slice "
    "while dfs/stats stay stale (the between-the-three-table-writes "
    "crash window), plus a leftover rebalance staging marker. 22 "
    "(family, check, violations) rows; every non-zero count is "
    "DATA-DERIVED (the oracle recomputes it from the base tables "
    "under the same planted predicate, replaying the BM25 tokenizer "
    "for the term-level counts), every zero pins a corruption class "
    "deliberately not planted. Per-checker planted-corruption "
    "matrices live in tests/test_retire.py and tests/test_streaming.py",
)
def sim_index_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from auraverse_etl_pipeline_spark.runtime import scratch_dir

    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_fsck
    from auraverse_etl_pipeline_spark.streaming.ops import (
        compressed_index_fsck,
        gate_index_fsck,
    )

    fixture = _staged_ivf_fixture(spark, sf_dir, "retrain", "compressed", "bm25")
    root = scratch_dir(prefix="fsck_")

    # gate family: members REWRITTEN minus the planted slice (writing
    # the survivor set directly beats copy-then-retire — one write, no
    # intermediate mutation), decisions/centroids intact, plus a
    # leftover staged-commit marker
    gate = f"{root}/gate"
    (
        spark.read.parquet(f"{fixture}/retrain/members")
        .filter(F.col("id") % _FSCK_GATE_MOD != _FSCK_GATE_REM)
        .repartition("cell")
        .write.partitionBy("cell")
        .parquet(f"{gate}/members")
    )
    shutil.copytree(f"{fixture}/retrain/centroids", f"{gate}/centroids")
    load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.lit(1).cast("bigint").alias("batch_id"),
        F.lit(True).alias("kept"),
    ).write.parquet(f"{gate}/decisions")
    spark.read.parquet(f"{gate}/centroids").limit(1).write.parquet(
        f"{gate}/centroids_pending"
    )

    # compressed family: assignments rewritten minus a disjoint slice;
    # every follower surface byte-copied intact — the orphans are the
    # fsck's find
    comp = f"{root}/compressed"
    for table in ("pq_codes", "sq_codes", "codebooks", "encode_log"):
        shutil.copytree(f"{fixture}/compressed/{table}", f"{comp}/{table}")
    (
        spark.read.parquet(f"{fixture}/compressed/assignments")
        .filter(F.col("id") % _FSCK_COMP_MOD != _FSCK_COMP_REM)
        .repartition("cell")
        .write.partitionBy("cell")
        .parquet(f"{comp}/assignments")
    )

    # bm25 family: postings pruned, dfs/stats byte-copied STALE — the
    # in-place triple write's crash window, frozen mid-crash
    bm = f"{root}/bm25"
    for table in ("dfs", "stats"):
        shutil.copytree(f"{fixture}/bm25/{table}", f"{bm}/{table}")
    (
        spark.read.parquet(f"{fixture}/bm25/postings")
        .filter(F.col("id") % _FSCK_BM25_MOD != _FSCK_BM25_REM)
        .write.parquet(f"{bm}/postings")
    )

    return (
        gate_index_fsck(spark, gate)
        .select(F.lit("gate").alias("family"), "check", "violations")
        .unionByName(
            compressed_index_fsck(spark, comp).select(
                F.lit("compressed").alias("family"), "check", "violations"
            )
        )
        .unionByName(
            bm25_fsck(spark, bm).select(
                F.lit("bm25").alias("family"), "check", "violations"
            )
        )
    )


@query(
    "sim_ivfpq_search",
    oracle=_PQ_CTES
    + f"""
    , cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT {_IVF_NLIST})
    ),
    assigned AS (
        SELECT id, cell FROM (
            SELECT c.id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, cent.centroid) DESC,
                                cent.cell) AS pr
            FROM q CROSS JOIN cent
        ) WHERE pr <= {_IVF_NPROBE}
    ),
    lut AS (
        SELECT q2.query_id, cb.sub, cb.code, {_l2sq_sql("qsub", "centroid")} AS pd
        FROM (SELECT query_id, sr.sub,
                     qv[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS qsub
              FROM q CROSS JOIN sr) q2
        JOIN cb ON q2.sub = cb.sub
    ),
    cand AS (
        SELECT p.query_id, a.id AS neighbor_id
        FROM probes p JOIN assigned a USING (cell)
    ),
    adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(SUM(CAST(l.pd AS DECIMAL(38,12))) AS DOUBLE) AS approx_dist
        FROM cand cd
        JOIN enc e ON e.id = cd.neighbor_id
        JOIN lut l ON l.query_id = cd.query_id AND l.sub = e.sub AND l.code = e.code
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, l2_sq FROM (
        SELECT s.query_id, s.neighbor_id, {_l2sq_sql("q.qv", "c.v")} AS l2_sq,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {_l2sq_sql("q.qv", "c.v")} ASC, s.neighbor_id) AS rank
        FROM short s
        JOIN c ON c.id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rank <= 5
    """,
    description="IVF-PQ with refinement, the complete compressed-"
    "domain ANN pipeline: probe the nprobe nearest cells, ADC-score "
    "ONLY the probed cells' PQ codes (nprobe/nlist of the code table "
    "- m small-ints per vector - is ALL the corpus-sized data the "
    "scan touches), shortlist, exact-L2^2 refine the top-5 over just "
    "those candidates. Persisted index + persisted codes, nothing "
    "refit per query; DuckDB replays probing, cell assignment, "
    "encoding, LUT sums, shortlist and refinement digit-for-digit. "
    "Full-probe equivalence to pq_topk_rerank pinned in pytest",
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = ivf_index(corpus, nlist=_IVF_NLIST, quantizer="sample")
    cb = pq_codebooks(corpus, m=_PQ_M, ksub=_PQ_KSUB, dim=64)
    codes = pq_encode(corpus, cb, m=_PQ_M, dim=64)
    out = ivfpq_search(
        queries, idx, codes, cb, corpus=corpus,
        k=5, nprobe=_IVF_NPROBE, shortlist=_PQ_SHORTLIST,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: Mixture-planner constants shared by the Spark query and its oracle
#: (weights already sum to 1 so both sides skip renormalization noise).
_BUDGET_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}
_BUDGET_TOTAL = 1_000_000


def _budget_weight_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)" for s, w in _BUDGET_WEIGHTS.items()
    )
    return f"CASE stratum {arms} ELSE CAST(0.0 AS DOUBLE) END"


@query(
    "mix_token_budget",
    oracle=f"""
    WITH a AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS available_tokens
        FROM documents GROUP BY lang
    ),
    b AS (SELECT *, {_budget_weight_sql()} AS weight FROM a)
    SELECT stratum, n_docs, available_tokens, weight,
           weight * CAST({_BUDGET_TOTAL} AS DOUBLE) AS target_tokens,
           weight * CAST({_BUDGET_TOTAL} AS DOUBLE) / available_tokens AS epochs,
           LEAST(CAST(1.0 AS DOUBLE),
                 weight * CAST({_BUDGET_TOTAL} AS DOUBLE) / available_tokens)
             AS sample_fraction
    FROM b
    """,
    description="pretraining-mixture token-budget planner (the data-"
    "card math): per-stratum token supply vs the mixture's target, "
    "with epochs > 1 marking strata that must repeat (up-sampled "
    "high-quality sources) and sample_fraction the rate a downstream "
    "deterministic sampler draws at. One aggregation pass; at 100 TB "
    "this is the cheap planning query that sizes every later sweep",
)
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import token_budget_plan

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_plan(
        docs, _BUDGET_WEIGHTS, _BUDGET_TOTAL, strata_col="lang"
    )


@query(
    "mix_cluster_balanced",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT {_IVF_NLIST})
    ),
    assigned AS (
        SELECT id, cell, centroid_cos FROM (
            SELECT c.id, cent.cell,
                   list_cosine_similarity(c.v, cent.centroid) AS centroid_cos,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    r AS (
        SELECT id, cell, centroid_cos,
               ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY (CAST(id AS BIGINT) * 2654435761) % 1000000007,
                            id) AS sample_rank
        FROM assigned
    )
    SELECT id AS vec_id, cell, centroid_cos,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 5
    """,
    description="cluster-balanced subsampling (semantic-coverage "
    "draw): ivf_assign every vector to its nearest sample-quantizer "
    "centroid, then an exact per-cell Knuth-ranked quota - the sample "
    "spans embedding-space regions instead of letting the head "
    "cluster swamp it. Broadcast centroids + one fixed-width argmax "
    "row per vector + O(quota) window state per cell; deterministic "
    "end to end, and DuckDB replays assignment and ranking exactly",
)
def mix_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import (
        cluster_balanced_sample,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_index(emb, nlist=_IVF_NLIST, quantizer="sample").centroids
    out = cluster_balanced_sample(emb, centroids, per_cell=5)
    return out.select(
        F.col("id").alias("vec_id"),
        "cell",
        # centroids ARE corpus members here, so self-similarity hits the
        # fold's 1.0000000000000002; DuckDB's list_cosine_similarity
        # clamps at 1.0 — align on the clamp
        F.least(F.lit(1.0), F.col("centroid_cos")).alias("centroid_cos"),
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )


#: Deterministic classifier fixture: the synthetic corpus's 31-token
#: vocabulary is label-independent, so (same pattern as the PII and
#: perturbed-embedding fixtures) both engines append the same
#: class-marker tokens before training — doc_id % 3 == 0 is the
#: "quality" class. num_buckets and the alpha=1 smoothing are shared
#: with the oracle below.
_NB_BUCKETS = 4096
_NB_POS_SUFFIX = " quality education learning insight reference"
_NB_NEG_SUFFIX = " casino spam clickbait lottery promo"


@query(
    "text_nb_classifier",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0
                            THEN '{_NB_POS_SUFFIX}'
                            ELSE '{_NB_NEG_SUFFIX}' END AS text,
               doc_id % 3 = 0 AS pos
        FROM documents
    ),
    inst AS (
        SELECT pos, ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_NB_BUCKETS} AS bucket
        FROM (SELECT pos, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM d)
    ),
    counts AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
               CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS neg_n
        FROM inst GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(pos_n) AS BIGINT) AS pos_tot,
               CAST(SUM(neg_n) AS BIGINT) AS neg_tot
        FROM counts
    ),
    w AS (
        SELECT bucket,
               ln((pos_n + CAST(1.0 AS DOUBLE)) / (pos_tot + CAST({_NB_BUCKETS}.0 AS DOUBLE)))
             - ln((neg_n + CAST(1.0 AS DOUBLE)) / (neg_tot + CAST({_NB_BUCKETS}.0 AS DOUBLE)))
                 AS log_odds
        FROM counts, tot
    ),
    pr AS (
        SELECT ln((SUM(CASE WHEN pos THEN 1 ELSE 0 END) + CAST(1.0 AS DOUBLE))
                / (SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) + CAST(1.0 AS DOUBLE)))
                 AS prior
        FROM d
    ),
    si AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_NB_BUCKETS} AS bucket
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM d)
    ),
    sums AS (
        SELECT si.doc_id,
               CAST(SUM(CAST(COALESCE(w.log_odds, CAST(0.0 AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE)
                 AS tok_sum
        FROM si LEFT JOIN w USING (bucket) GROUP BY si.doc_id
    )
    SELECT d.doc_id AS id,
           pr.prior + COALESCE(s.tok_sum, CAST(0.0 AS DOUBLE)) AS score,
           (pr.prior + COALESCE(s.tok_sum, CAST(0.0 AS DOUBLE))) > 0 AS predicted
    FROM (SELECT DISTINCT doc_id FROM d) d
    CROSS JOIN pr
    LEFT JOIN sums s USING (doc_id)
    """,
    description="model-based quality gate, trained AND scored in-"
    "engine: binary multinomial Naive Bayes over md5-hashed token "
    "buckets (one aggregation pass to train - the model is a "
    "num_buckets-row broadcast table; per-bucket logs run in an "
    "Arrow batch with Python libm because JVM Math.log disagrees "
    "with DuckDB ln in the last ulp on ~2% of inputs, measured), "
    "scoring = broadcast join + order-independent DECIMAL sum per "
    "document. The (bucket, log_odds) contract accepts weights from "
    "any external linear model (fasttext-style) unchanged; training "
    "accuracy on the separable fixture pinned in pytest",
)
def text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.classifier import nb_score, nb_train

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(_NB_POS_SUFFIX)).otherwise(
                F.lit(_NB_NEG_SUFFIX)
            ),
        ).alias("text"),
    )
    model = nb_train(
        docs, F.col("doc_id") % 3 == 0, True, num_buckets=_NB_BUCKETS
    )
    return nb_score(docs, model, num_buckets=_NB_BUCKETS)


#: Logistic-regression tier geometry (shared Spark/oracle).
_LOGREG_BUCKETS = 1024


def _logreg_feature_sql(src: str, buckets: int = _LOGREG_BUCKETS) -> str:
    """Feature CTE body over corpus CTE ``src`` (doc_id, text): hashed
    binary PRESENCE features plus the bias row (bucket −1, x = 1.0)
    per document — replays logreg_features."""
    return f"""
        SELECT DISTINCT id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % {buckets} AS bucket,
               CAST(1.0 AS DOUBLE) AS x
        FROM (SELECT doc_id AS id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM {src})
        UNION ALL
        SELECT doc_id AS id, CAST(-1 AS BIGINT) AS bucket, CAST(1.0 AS DOUBLE) AS x
        FROM {src}
    """


_LOGREG_LR = 8.0
_LOGREG_ITERS = 4


def _logreg_sa_chain() -> str:
    """Unrolled full-batch GD from w = 0 over the NB marker fixture,
    training on the even-id slice with the 1/t-decayed schedule, ending
    at the ``sa`` CTE (per-doc scores over ALL documents) — shared by
    the batch query and the streaming-gate tally oracle. With w₀ = 0
    the first step's sigmoid is exactly 0.5 in both engines; every dot
    product and gradient runs through the ``LOGREG_FIXED_POINT``
    discipline — ``floor(v·2^40)`` summed as exact DECIMAL(38,0), one
    division at the end — never a per-row double→DECIMAL(38,12) cast
    of a computed value (divergent rounding modes, CLAUDE.md); the
    sigmoid through exp (DuckDB's exp is bit-identical to Python libm
    — measured, 0 mismatches in 20k samples; numpy's SIMD exp is NOT
    and is never used). Each step's rate embeds as the exact double
    repr, which both engines parse to the identical double."""
    from auraverse_etl_pipeline_spark.operators.classifier import LOGREG_FIXED_POINT

    lr = _LOGREG_LR
    fx = repr(LOGREG_FIXED_POINT)
    parts = [
        f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0
                            THEN '{_NB_POS_SUFFIX}'
                            ELSE '{_NB_NEG_SUFFIX}' END AS text
        FROM documents
    ),
    tr AS MATERIALIZED (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0),
    xtr AS MATERIALIZED ({_logreg_feature_sql("tr")}),
    ytr AS (
        SELECT doc_id AS id, CAST(doc_id % 3 = 0 AS DOUBLE) AS y FROM tr
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
    g1 AS (
        SELECT bucket,
               CAST(SUM(CAST(floor(((0.5 - y) * x) * {fx}) AS DECIMAL(38,0)))
                    AS DOUBLE) / {fx} AS g
        FROM xtr JOIN ytr USING (id) GROUP BY bucket
    ),
    w1 AS MATERIALIZED (
        SELECT bucket, 0.0 - {lr / 1!r} * (g / n) AS w FROM g1 CROSS JOIN nd
    )"""
    ]
    for t in range(2, _LOGREG_ITERS + 1):
        step_lr = lr / t
        parts.append(
            f""",
    s{t} AS (
        SELECT id,
               CAST(SUM(CAST(floor((x * COALESCE(w, 0.0)) * {fx}) AS DECIMAL(38,0)))
                    AS DOUBLE) / {fx} AS s
        FROM xtr LEFT JOIN w{t - 1} USING (bucket) GROUP BY id
    ),
    p{t} AS (SELECT id, 1.0 / (1.0 + exp(-s)) AS p FROM s{t}),
    g{t} AS (
        SELECT bucket,
               CAST(SUM(CAST(floor(((p - y) * x) * {fx}) AS DECIMAL(38,0)))
                    AS DOUBLE) / {fx} AS g
        FROM xtr JOIN p{t} USING (id) JOIN ytr USING (id) GROUP BY bucket
    ),
    w{t} AS MATERIALIZED (
        SELECT g{t}.bucket, COALESCE(w{t - 1}.w, 0.0) - {step_lr!r} * (g{t}.g / n)
                 AS w
        FROM g{t} LEFT JOIN w{t - 1} USING (bucket) CROSS JOIN nd
    )"""
        )
    parts.append(
        f""",
    xall AS ({_logreg_feature_sql("d")}),
    sa AS (
        SELECT id,
               CAST(SUM(CAST(floor((x * COALESCE(w, 0.0)) * {fx}) AS DECIMAL(38,0)))
                    AS DOUBLE) / {fx} AS score
        FROM xall LEFT JOIN w{_LOGREG_ITERS} USING (bucket) GROUP BY id
    )"""
    )
    return "".join(parts)


def _logreg_oracle() -> str:
    return (
        _logreg_sa_chain()
        + """
    SELECT id AS doc_id, score,
           1.0 / (1.0 + exp(-score)) AS prob,
           score > 0 AS predicted
    FROM sa
    """
    )


@query(
    "text_logreg_quality",
    oracle=_logreg_oracle(),
    description="the fasttext-shaped quality classifier (the DCLM / "
    "FineWeb-Edu gate) trained INSIDE the engine: binary logistic "
    "regression over md5-hashed set-of-words presence features "
    "(+bias), 4 full-batch 1/t-decayed gradient-descent steps from "
    "w=0 on the even-id slice of the marker fixture (the NB query's "
    "corpus - the two trainers are directly comparable), then every "
    "document scored; reaches training accuracy 1.0 where NB needs "
    "its class-conditional independence assumption. Per step: one "
    "broadcast model join, DECIMAL-partial per-doc dot products, "
    "Arrow-batched Python-libm sigmoid (bit-identical to DuckDB "
    "exp; numpy's SIMD exp is NOT and is never used), one per-bucket "
    "gradient aggregate; only the model-sized gradient is collected "
    "per step. Fuzzed against a pure-Python GD replica; the oracle "
    "replays all 4 training steps and the full scoring pass "
    "digit-for-digit via unrolled MATERIALIZED CTEs",
)
def text_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(_NB_POS_SUFFIX)).otherwise(
                F.lit(_NB_NEG_SUFFIX)
            ),
        ).alias("text"),
    )
    model = logreg_train(
        docs.filter(F.col("doc_id") % 2 == 0),
        F.col("doc_id") % 3 == 0,
        True,
        num_buckets=_LOGREG_BUCKETS,
        lr=_LOGREG_LR,
        iters=_LOGREG_ITERS,
        decay=True,
    )
    out = logreg_score(docs, model, num_buckets=_LOGREG_BUCKETS)
    return out.select(
        F.col("id").alias("doc_id"), "score", "prob", "predicted"
    )


#: Deterministic Unicode fixture: the synthetic corpus is pure ASCII,
#: so both engines append the same DECOMPOSED sequences (combining
#: accents, ligatures) before normalizing — NFC must change the bytes.
#: One Python constant feeds the Spark literal AND the SQL literal, so
#: the fixtures cannot drift. (No Greek capitals: DuckDB lowers final
#: Σ positionally differently from Python — functions/unicode.py.)
_UNI_SUFFIXES = (
    " Cafe\u0301 pin\u0303ata",  # e+combining-acute, n+combining-tilde
    " \ufb01ance\u0301 nai\u0308ve",  # fi-ligature, combining diaeresis
    " U\u0308rdu\u0304 deja\u0300 vu",  # combining umlaut/macron/grave
)


@query(
    "text_unicode_normalize",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               text || CASE doc_id % 3
                       WHEN 0 THEN '{_UNI_SUFFIXES[0]}'
                       WHEN 1 THEN '{_UNI_SUFFIXES[1]}'
                       ELSE '{_UNI_SUFFIXES[2]}' END AS text
        FROM documents
    )
    SELECT doc_id,
           md5(nfc_normalize(text)) AS nfc_md5,
           md5(lower(strip_accents(nfc_normalize(text)))) AS folded_md5,
           nfc_normalize(text) <> text AS changed
    FROM d
    """,
    description="Unicode canonicalization (the pre-tokenization step "
    "every multilingual corpus needs - composed and decomposed "
    "spellings of the same text hash differently, silently defeating "
    "exact dedup, MinHash shingles and token bucketing): NFC "
    "normalization plus an accent-fold+lower matching key, as "
    "Arrow-batched unicodedata kernels whose tables match DuckDB's "
    "utf8proc codepoint-for-codepoint (tested; one known final-sigma "
    "divergence documented). Fixture appends deterministic DECOMPOSED "
    "sequences so NFC provably changes bytes on every document",
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.unicode import normalized_columns
    from auraverse_etl_pipeline_spark.runtime import ship_package

    ship_package(spark)  # module-level pandas_udf kernels
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.element_at(
                F.array(*[F.lit(s) for s in _UNI_SUFFIXES]),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("text"),
    )
    nfc, folded = normalized_columns("text")
    return docs.select(
        "doc_id",
        F.md5(nfc).alias("nfc_md5"),
        F.md5(folded).alias("folded_md5"),
        (nfc != F.col("text")).alias("changed"),
    )


#: WAV fixture geometry (attach_wav_media's closed-form waveform).
_WAV_N = 256
_WAV_RATE = 8000
_WAV_S = "((doc_id*37 + {t}*13) % 1024 - 512)"


@query(
    "multimodal_wav_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST({_WAV_N} AS BIGINT) AS n_samples,
           CAST({_WAV_RATE} AS BIGINT) AS sample_rate,
           CAST(list_sum(list_transform(range(0, {_WAV_N}),
                t -> {_WAV_S.format(t="t")} * {_WAV_S.format(t="t")})) AS BIGINT)
             AS sum_squares,
           CAST(len(list_filter(range(1, {_WAV_N}),
                t -> ({_WAV_S.format(t="t")} >= 0) <> ({_WAV_S.format(t="(t-1)")} >= 0))) AS BIGINT)
             AS zero_crossings,
           CAST(list_max(list_transform(range(0, {_WAV_N}),
                t -> abs({_WAV_S.format(t="t")}))) AS BIGINT) AS peak
    FROM documents WHERE doc_id < 200
    """,
    description="REAL audio decode path: deterministic 16-bit PCM "
    "mono WAVs (closed-form waveform) built per document, parsed by "
    "the stdlib-struct RIFF decoder (chunk walk, strict PCM-mono "
    "validation), waveform statistics extracted in the Arrow batch - "
    "all INTEGER features (int16 samples square exactly in int64), "
    "so DuckDB recomputes every stat from (media_id, t) arithmetic "
    "without parsing a byte of RIFF. Payloads never shuffle; the "
    "audio twin of multimodal_png_features",
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        attach_wav_media,
        audio_features,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_wav_media(docs, n_samples=_WAV_N, sample_rate=_WAV_RATE)
    return audio_features(media)


_CMS_DEPTH = 4
_CMS_WIDTH = 1024


@query(
    "text_cms_token_counts",
    oracle=f"""
    WITH inst AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
    ),
    pos AS (
        SELECT tok, i AS row,
               ('0x' || substr(md5(tok || '#' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                 % {_CMS_WIDTH} AS bucket
        FROM inst, range({_CMS_DEPTH}) r(i)
    ),
    cms AS (
        SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pos GROUP BY row, bucket
    ),
    keys AS (SELECT DISTINCT tok FROM inst),
    probes AS (
        SELECT tok, i AS row,
               ('0x' || substr(md5(tok || '#' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                 % {_CMS_WIDTH} AS bucket
        FROM keys, range({_CMS_DEPTH}) r(i)
    ),
    est AS (
        SELECT p.tok, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
        FROM probes p LEFT JOIN cms c USING (row, bucket)
        GROUP BY p.tok
    ),
    exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count FROM inst GROUP BY tok)
    SELECT e.tok, e.est_count, x.true_count,
           e.est_count >= x.true_count AS never_under
    FROM est e JOIN exact x USING (tok)
    """,
    description="count-min sketch frequency estimation: token counts "
    "in depth x width integers TOTAL, regardless of vocabulary size - "
    "the fixed-memory twin of text_vocab_topk for corpora whose "
    "dictionary itself is too big to materialize (URL/n-gram "
    "frequencies at 100 TB). Linear sketch: daily increments merge by "
    "summing cells, like the Bloom and MinHash indexes. The query "
    "builds the sketch, looks every token back up, and checks the "
    "one-sided guarantee (estimates never undercount); DuckDB replays "
    "every cell and every estimate digit-for-digit",
)
def text_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.sketches import cms_build, cms_lookup

    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select(F.explode(tokens("text")).alias("tok"))
    cms = cms_build(inst, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = inst.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    est = cms_lookup(exact, cms, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return est.select(
        "tok",
        "est_count",
        "true_count",
        (F.col("est_count") >= F.col("true_count")).alias("never_under"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(len({_TOKS})) AS BIGINT) / COUNT(*) AS avg_tokens,
           CAST(MIN(len({_TOKS})) AS BIGINT) AS min_tokens,
           CAST(MAX(len({_TOKS})) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY lang
    """,
    description="token counting rolled up by language tag",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = token_count("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        (F.sum(tc) / F.count("*")).alias("avg_tokens"),
        F.min(tc).alias("min_tokens"),
        F.max(tc).alias("max_tokens"),
    )


_EN_STOPS = LANG_STOPWORDS[0][1]
_EN_LIST = "[" + ", ".join(f"'{w}'" for w in _EN_STOPS) + "]"


@query(
    "text_char_entropy",
    # H = ln(n) − (Σ c·ln c)/n over per-document character counts —
    # algebraically identical to −Σ p·ln p but every ln argument is an
    # INTEGER, so the libm calls run over the corpus's DISTINCT count
    # values (a model-sized table, broadcast back) instead of a
    # corpus-sized probability column: the classifier/LM libm
    # discipline applied to entropy. The ln values are then QUANTIZED
    # at the 2^40 fixed point (floor(ln·2^40) — exact double op, exact
    # integer), so every per-doc accumulation is exact integer algebra
    # and the single FP tail divides out the scale: a per-row
    # double→DECIMAL(38,12) cast of c·ln c diverged in the last ulp on
    # ~5/500 docs (Spark rounds the shortest repr, DuckDB the binary
    # expansion — the CLAUDE.md non-money-double cast trap), which the
    # fixed point eliminates at a < 2^-40 entropy perturbation. Empty
    # documents are filtered on BOTH sides (Spark split('','') yields
    # [], DuckDB ['']).
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    cc AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d)
        GROUP BY doc_id, ch
    ),
    nn AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM d),
    vals AS (SELECT DISTINCT c AS v FROM cc UNION SELECT DISTINCT n FROM nn),
    lnt AS (
        SELECT v,
               CAST(floor(ln(CAST(v AS DOUBLE)) * 1099511627776.0)
                    AS DECIMAL(38,0)) AS lnq
        FROM vals
    ),
    per AS (
        SELECT doc_id,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * lnq) AS DECIMAL(38,0))
                 AS clnc,
               CAST(COUNT(*) AS BIGINT) AS distinct_chars
        FROM cc JOIN lnt ON lnt.v = cc.c GROUP BY doc_id
    )
    SELECT nn.doc_id, nn.n AS n_chars, per.distinct_chars,
           CAST(l2.lnq AS DOUBLE) / 1099511627776.0
             - CAST(per.clnc AS DOUBLE) / nn.n / 1099511627776.0
               AS char_entropy
    FROM per JOIN nn USING (doc_id) JOIN lnt l2 ON l2.v = nn.n
    """,
    description="character-level Shannon entropy per document - the "
    "classic gibberish/binary-noise detector (natural language sits "
    "~2.9-3.3 nats; base64 blobs and repeated-char spam fall far "
    "outside). Spelled H = ln(n) - (sum of c*ln c)/n so every ln "
    "argument is an integer COUNT: the libm calls run over the "
    "corpus's distinct count values (model-sized, broadcast back) "
    "instead of a corpus-sized probability column, with "
    "DECIMAL-partial per-doc sums - the classifier/LM libm "
    "discipline applied to entropy",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.classifier import _ln
    from auraverse_etl_pipeline_spark.runtime import ship_package

    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    counts = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = docs.select("doc_id", F.length("text").cast("bigint").alias("n"))
    vals = (
        counts.select(F.col("c").alias("v"))
        .union(n.select(F.col("n").alias("v")))
        .distinct()
    )
    fx = 1099511627776.0  # 2^40
    lnt = vals.select(
        "v",
        F.floor(_ln(F.col("v").cast("double")) * F.lit(fx))
        .cast("decimal(38,0)")
        .alias("lnq"),
    )
    per = (
        counts.join(F.broadcast(lnt), counts["c"] == lnt["v"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("lnq"))
            .cast("decimal(38,0)")
            .alias("clnc"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
        )
    )
    ln_n = F.broadcast(
        lnt.select(F.col("v").alias("n"), F.col("lnq").alias("ln_nq"))
    )
    return (
        per.join(n, "doc_id")
        .join(ln_n, "n")
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "distinct_chars",
            (
                F.col("ln_nq").cast("double") / F.lit(fx)
                - F.col("clnc").cast("double") / F.col("n") / F.lit(fx)
            ).alias("char_entropy"),
        )
    )


@query(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text) AS punct_ratio,
           CAST(len(list_filter({_TOKS}, t -> list_contains({_EN_LIST}, t))) AS DOUBLE)
             / len({_TOKS}) AS stopword_ratio,
           length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS avg_token_len
    FROM documents
    WHERE doc_id < 100
    """,
    description="per-document quality metrics (length/punct/stopword ratios)",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text", _EN_STOPS).cast("double").alias("stopword_ratio"),
        avg_token_len("text").alias("avg_token_len"),
    )


@query(
    "text_gopher_filter",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS mean_word_len,
               CAST(len(list_intersect(list_distinct({_TOKS}), {_EN_LIST})) AS BIGINT)
                 AS stopword_hits
        FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, stopword_hits,
           {_gopher_fail_reason_sql()} AS fail_reason,
           {_gopher_keep_sql()} AS keep
    FROM m
    """,
    description="Gopher-rules quality gate: the classic pretraining "
    "document filter as a DECISION (keep + first failing rule), not "
    "just raw metrics - word count in [50, 100k], mean word length in "
    "[3, 10], >= 2 distinct common stopwords. Pure codegen'd column "
    "algebra, zero shuffle: scales with scan bandwidth",
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import gopher_report

    docs = load_table(spark, sf_dir, "documents")
    return gopher_report(docs)


@query(
    "text_rare_bigram_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM t
    ),
    c AS (SELECT bg, COUNT(*) AS cnt FROM ex GROUP BY bg),
    d AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        FROM ex e JOIN c USING (bg)
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_bigrams, n_rare,
           CAST(n_rare AS DOUBLE) / n_bigrams AS rare_ratio,
           CAST(n_rare AS DOUBLE) / n_bigrams <= 0.5 AS keep
    FROM d
    """,
    description="corpus-statistics fluency gate (count-based stand-in "
    "for LM-perplexity filtering): the corpus bigram count table IS "
    "the model, and a document whose bigrams are mostly corpus "
    "singletons is likely garbled. Integer counts end-to-end so the "
    "gate is engine-reproducible (a log-prob spelling would "
    "hash-diverge on ln ulps); shuffle carries md5(bigram) hashes and "
    "counts, never text",
)
def text_rare_bigram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import rare_bigram_stats

    docs = load_table(spark, sf_dir, "documents")
    return rare_bigram_stats(docs, rare_threshold=2, max_rare_ratio=0.5)


@query(
    "text_repeated_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 6),
                                     i -> array_to_string(toks[i:i+7], ' '))) AS g
        FROM t
    ),
    dfq AS (SELECT g, COUNT(DISTINCT doc_id) AS gdf FROM ex GROUP BY g),
    d AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN q.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
        FROM ex e JOIN dfq q USING (g)
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_grams, n_repeated,
           CAST(n_repeated AS DOUBLE) / n_grams AS repeated_ratio
    FROM d
    """,
    description="intra-corpus repeated-substring triage (the signal "
    "motivating suffix-array dedup of training data): per document, "
    "the fraction of its 8-gram instances occurring in >= 2 distinct "
    "documents. High ratios flag templated/boilerplate documents for "
    "span-level dedup; df aggregation groups on md5(gram), so the "
    "shuffle never carries gram text",
)
def text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import repeated_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_stats(docs, n=8, min_df=2)


def _hits_sql(words: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_TOKS}, t -> list_contains({arr}, t)))"


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {_hits_sql(words)} >= 1 AND "
        + " AND ".join(
            f"{_hits_sql(words)} >= {_hits_sql(other)}"
            for other_lang, other in LANG_STOPWORDS
            if other_lang != lang
        )
        + f" THEN '{lang}'"
        for lang, words in LANG_STOPWORDS
    )
    + " ELSE 'und' END"
)


@query(
    "text_lang_guess",
    oracle=f"""
    SELECT lang, {_LANG_CASE} AS guessed, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    description="stopword-vote language ID vs the corpus lang tag",
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_guess("text").alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS content_md5,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007
           ) AS rolling_hash
    FROM documents
    WHERE doc_id < 100
    """,
    description="order-insensitive md5 fingerprint + order-sensitive polynomial rolling hash",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        content_fingerprint("text").alias("content_md5"),
        rolling_hash("text").alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_media_features",
    # The fake-media payload is the document's UTF-8 bytes, so every
    # feature column is SQL-expressible — the byte stream is rebuilt in
    # SQL by UTF-8-encoding each code point with integer arithmetic
    # (1/2/3/4-byte forms), which also cross-checks n_bytes against the
    # expansion. Empty documents keep their row via the LEFT JOIN with
    # the operator's zero fills.
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents),
    cp AS (
        SELECT doc_id, unicode(ch) AS c
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d)
    ),
    cb AS (
        SELECT doc_id, unnest(
            CASE
                WHEN c < 128 THEN [c]
                WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
                WHEN c < 65536
                    THEN [224 + c // 4096, 128 + (c // 64) % 64, 128 + c % 64]
                ELSE [240 + c // 262144, 128 + (c // 4096) % 64,
                      128 + (c // 64) % 64, 128 + c % 64]
            END) AS b
        FROM cp
    ),
    stats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bytes,
               CAST(SUM(b) AS DOUBLE) / COUNT(*) AS byte_mean,
               CAST(COUNT(DISTINCT b) AS DOUBLE) / 256.0 AS byte_entropy_proxy,
               CAST(ceil(COUNT(*) / 64.0) AS BIGINT) AS n_frames_sampled
        FROM cb GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           ['image', 'audio', 'video'][(d.doc_id % 3) + 1] AS kind,
           COALESCE(s.n_bytes, 0) AS n_bytes,
           sha256(d.text) AS sha256,
           COALESCE(s.byte_mean, 0.0) AS byte_mean,
           COALESCE(s.byte_entropy_proxy, 0.0) AS byte_entropy_proxy,
           COALESCE(s.n_frames_sampled, 0) AS n_frames_sampled
    FROM d LEFT JOIN stats s USING (doc_id)
    """,
    description="binary media columns -> feature extraction "
    "(deterministic stub codec), fully oracle-gated: sha256, byte "
    "count, byte mean, distinct-byte entropy proxy and strided frame "
    "count over the payload bytes all replay in SQL via an integer-"
    "arithmetic UTF-8 encoder over the source text's code points",
)
def multimodal_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    return extract_media_features(media)


@query(
    "multimodal_pair_dedup",
    # Edges: byte-identical media (sha256 groups anchored at the group
    # min — a star per group) ∪ caption near-dups (exact 3-gram Jaccard,
    # the CC fixtures' tier); closure is the recursive min-label walk.
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id AS pair_id, text AS img_text, text AS caption
        FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 100000, text, 'photo number ' || doc_id
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 200000, text || ' [v2]', text
        FROM documents WHERE doc_id < 15
    ),
    sha AS (SELECT pair_id, sha256(img_text) AS s FROM corpus),
    grp AS (SELECT s, MIN(pair_id) AS id1 FROM sha GROUP BY s HAVING COUNT(*) > 1),
    img_edges AS (
        SELECT g.id1 AS id1, h.pair_id AS id2
        FROM sha h JOIN grp g USING (s) WHERE h.pair_id > g.id1
    ),
    shg AS (SELECT pair_id, {_sh3("caption")} AS shingles FROM corpus),
    cap_edges AS (
        SELECT a.pair_id AS id1, b.pair_id AS id2
        FROM shg a JOIN shg b ON a.pair_id < b.pair_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
              >= 0.5
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM img_edges
        UNION SELECT id2, id1 FROM img_edges
        UNION SELECT id1, id2 FROM cap_edges
        UNION SELECT id2, id1 FROM cap_edges
    ),
    walk(id, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.id
    )
    SELECT id AS pair_id, MIN(label) AS component FROM walk GROUP BY id
    """,
    description="LAION-style image-text PAIR dedup - the multimodal "
    "tier composed with the dedup ladder: connected components over "
    "(byte-identical media via native sha256 digests, star edges per "
    "group) UNION (caption near-dup pairs, exact 3-gram Jaccard "
    "tier). Fixture plants BOTH collapse directions: a duplicate "
    "image with an unrelated caption (doc_id+100000) and a distinct "
    "image with an identical caption (doc_id+200000) - each lands in "
    "its original's component through a different edge type. "
    "Recursive-CTE transitive-closure oracle",
)
def multimodal_pair_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        attach_fake_media,
        multimodal_pair_dedup as pair_dedup_op,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 150).cache()
    corpus = (
        base.select(
            F.col("doc_id").alias("pair_id"),
            F.col("text").alias("img_text"),
            F.col("text").alias("caption"),
        )
        .unionByName(
            base.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 100000).alias("pair_id"),
                F.col("text").alias("img_text"),
                F.concat(
                    F.lit("photo number "), F.col("doc_id").cast("string")
                ).alias("caption"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 200000).alias("pair_id"),
                F.concat(F.col("text"), F.lit(" [v2]")).alias("img_text"),
                F.col("text").alias("caption"),
            )
        )
    ).cache()  # consumed by the media digest AND the caption tier
    media = attach_fake_media(corpus, text_col="img_text", id_col="pair_id")
    cap_pairs = ngram_jaccard_pairs(
        corpus, threshold=0.5, n=3, text_col="caption", id_col="pair_id"
    )
    labels = pair_dedup_op(
        media.select(F.col("media_id").alias("pair_id"), "payload"), cap_pairs
    )
    return release_after(labels, base, corpus)


@query(
    "dedup_corpus_clean",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 30
    ),
    sh AS (SELECT doc_id, {_SH3} AS shingles FROM corpus),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
              >= 0.5
    )
    SELECT c.doc_id, md5(c.text) AS content_md5
    FROM corpus c
    WHERE c.doc_id NOT IN (SELECT id2 FROM pairs)
    """,
    description="end-to-end corpus cleaning: near-dup pairs (exact Jaccard "
    "tier) -> keep-first representative per duplicate edge",
)
def dedup_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import drop_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5, n=3)
    return drop_near_duplicates(corpus, pairs).select(
        "doc_id", F.md5("text").alias("content_md5")
    )


@query(
    "text_line_dedup",
    oracle="""
    WITH docs2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'ACCEPT ALL COOKIES' || chr(10) ELSE '' END
               || text || chr(10) || '(c) Example Corp - all rights reserved' AS text
        FROM documents
    ),
    split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2),
    l AS (
        SELECT doc_id, pos, ls[pos] AS line
        FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM split)
    ),
    hot AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS df
            FROM l WHERE trim(line) <> '' GROUP BY line
        ) WHERE df >= 10
    ),
    tagged AS (
        SELECT l.doc_id, l.pos, l.line, h.line IS NOT NULL AS dropped
        FROM l LEFT JOIN hot h ON l.line = h.line
    )
    SELECT doc_id,
           md5(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT dropped), '')) AS cleaned_md5,
           CAST(COUNT(*) FILTER (WHERE NOT dropped) AS BIGINT) AS n_lines_kept,
           CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_lines_dropped
    FROM tagged
    GROUP BY doc_id
    """,
    description="C4/RefinedWeb-style boilerplate line removal: lines "
    "occurring in >= 10 distinct documents (injected cookie banner on "
    "even doc_ids, copyright footer on all) are deleted and each "
    "document reassembled from its surviving lines in original order; "
    "content lines (document frequency 1) all survive. The document-"
    "frequency shuffle carries md5(line) hashes, never line text",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs2 = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("ACCEPT ALL COOKIES\n")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.lit("\n(c) Example Corp - all rights reserved"),
        ).alias("text"),
    )
    cleaned = drop_boilerplate_lines(docs2, min_doc_frequency=10)
    return cleaned.select(
        "doc_id",
        F.md5("text").alias("cleaned_md5"),
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("bigint").alias("n_lines_dropped"),
    )


_BPE_PAT_SQL = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_PAT_SQL_ESC = _BPE_PAT_SQL.replace("'", "''")


@query(
    "text_bpe_token_budget",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL_ESC}'),
                                t -> NOT regexp_matches(t, '^\\s+$'))) AS BIGINT)
             AS bpe_tokens
    FROM documents
    WHERE doc_id < 200
    """,
    description="LLM token budgeting: whitespace vs BPE-style pre-tokenizer "
    "counts (same regex runs in Spark and the DuckDB oracle)",
)
def text_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


@query(
    "multimodal_feature_digest",
    oracle="""
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT)
             AS n_frames_sampled
    FROM documents
    WHERE doc_id < 200
    """,
    description="multimodal plumbing through the oracle gate: the "
    "deterministic payload digest (sha256, byte count, strided frame "
    "count) computed by the Arrow-batched feature UDF must match SQL "
    "over the source text bytes",
)
def multimodal_feature_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_media_features(attach_fake_media(docs))
    return feats.select("media_id", "kind", "n_bytes", "sha256", "n_frames_sampled")


@query(
    "multimodal_resize_digest",
    # The oracle rebuilds the EXACT resized PPM bytes from the closed
    # forms: attach_ppm_media pixels are 1 + (id + 3x + 7y + c) mod 127
    # (ASCII-safe bytes — chr()/string_agg reassembles the raster
    # byte-for-byte), and nearest-neighbor maps out(x) -> (x*W) // W_out.
    # A 12x6 source resized to 8x4 = 'P6\n8 4\n127\n' (11 bytes) + 96
    # raster bytes; md5 over the whole file must match Spark's md5 of
    # the binary the resize UDF produced.
    oracle="""
    WITH ids AS (
        SELECT doc_id AS media_id FROM documents WHERE doc_id BETWEEN 0 AND 63
    ),
    px AS (
        SELECT media_id, p,
               1 + ((media_id
                     + 3 * ((((p // 3) % 8) * 12) // 8)
                     + 7 * (((p // 24) * 6) // 4)
                     + (p % 3)) % 127) AS b
        FROM ids, range(0, 96) t(p)
    ),
    body AS (
        SELECT media_id, string_agg(chr(CAST(b AS INTEGER)), '' ORDER BY p) AS raster
        FROM px GROUP BY media_id
    )
    SELECT media_id,
           md5('P6' || chr(10) || '8 4' || chr(10) || '127' || chr(10) || raster)
               AS resized_md5,
           CAST(107 AS BIGINT) AS n_bytes_out
    FROM body
    """,
    description="REAL pixel path through the oracle gate: deterministic "
    "PPM images, nearest-neighbor resize in the Arrow UDF, md5 of the "
    "re-encoded bytes vs a SQL reconstruction of the same raster",
)
def multimodal_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        attach_ppm_media,
        resize_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").between(0, 63))
    media = attach_ppm_media(docs, width=12, height=6)
    out = resize_media(media, target_w=8, target_h=4)
    return out.select(
        "media_id", F.md5("resized").alias("resized_md5"), "n_bytes_out"
    )


@query(
    "multimodal_png_features",
    # The payloads are REAL PNGs (zlib DEFLATE, scanline filters
    # cycling all five types), so n_bytes/sha256 are compression-
    # dependent and stay out of the oracle; the DECODED raster is the
    # closed-form gradient 1 + (id + 3x + 7y + c) mod 127 over a 16x8
    # image, which SQL recomputes without touching zlib. byte_mean /
    # entropy / frame count are stats of the decoded raster (384
    # bytes), so a wrong unfilter pass would shift every value.
    oracle="""
    WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 64),
    px AS (
        SELECT media_id, 1 + ((media_id + 3*x.i + 7*y.i + c.i) % 127) AS b
        FROM ids, range(0, 16) x(i), range(0, 8) y(i), range(0, 3) c(i)
    )
    SELECT media_id,
           CAST(SUM(b) AS DOUBLE) / COUNT(*) AS byte_mean,
           CAST(COUNT(DISTINCT b) AS DOUBLE) / 256.0 AS byte_entropy_proxy,
           CAST(ceil(COUNT(*) / 64.0) AS BIGINT) AS n_frames_sampled
    FROM px GROUP BY media_id
    """,
    description="a REAL compressed-image corpus through the codec "
    "hook: stdlib-zlib PNG decode (inflate + all five PNG scanline "
    "unfilters) feeds the Arrow-batched feature extractor, and the "
    "decoded-raster stats must match SQL's closed-form recomputation "
    "of the pixels - proving the pipeline runs decode -> features on "
    "compressed media rather than the byte-stat fallback",
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import attach_png_media

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    feats = extract_media_features(attach_png_media(docs, width=16, height=8))
    return feats.select(
        "media_id", "byte_mean", "byte_entropy_proxy", "n_frames_sampled"
    )


# ---------------------------------------------------------------------------
# Corpus curation: PII scrub, quality filter, decontamination, vocab,
# mixture sampling, length profiling
# ---------------------------------------------------------------------------


def _sh_sql(n: int) -> str:
    """DuckDB spelling of the distinct word-``n``-gram shingle set
    (matches ``functions.text.shingles`` + ``array_distinct``)."""
    return (
        f"list_distinct(list_transform(range(1, len({_TOKS}) - {n - 2}), "
        f"i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' ')))"
    )


#: Deterministic PII fixture: the corpus has no real PII, so both engines
#: append the same synthetic email (doc_id % 3 == 0) and phone
#: (doc_id % 5 == 0) before the scrub runs — same pattern as the
#: perturbed-embedding dedup fixture.
_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""


def _pii_augmented(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@query(
    "text_pii_redaction",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\\+?[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
                   '\\+?[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g')) AS redacted_md5
    FROM corpus
    """,
    description="PII scrub (email/phone -> placeholder tags) over a corpus "
    "with deterministically injected synthetic PII; codegen'd regexp chain, "
    "no Python per row",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import (
        pii_email_count,
        pii_phone_count,
        redact_pii,
    )

    docs = _pii_augmented(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        pii_email_count("text").alias("n_emails"),
        pii_phone_count("text").alias("n_phones"),
        F.md5(redact_pii("text")).alias("redacted_md5"),
    )


_SH2_RAW = f"list_transform(range(1, len({_TOKS})), i -> array_to_string(({_TOKS})[i:i+1], ' '))"


@query(
    "text_repetition_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS dup_token_ratio,
           CASE WHEN len({_SH2_RAW}) > 0
                THEN 1.0 - CAST(len(list_distinct({_SH2_RAW})) AS DOUBLE) / len({_SH2_RAW})
                ELSE 0.0 END AS dup_bigram_ratio,
           (1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})) <= 0.85
             AND (CASE WHEN len({_SH2_RAW}) > 0
                       THEN 1.0 - CAST(len(list_distinct({_SH2_RAW})) AS DOUBLE) / len({_SH2_RAW})
                       ELSE 0.0 END) <= 0.55 AS keep
    FROM documents
    WHERE doc_id < 200
    """,
    description="Gopher-style repetition quality filter: duplicate-token and "
    "duplicate-bigram ratios with a keep verdict per document",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = tokens("text")
    sh2 = shingles("text", n=2)
    dup_tok = 1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    dup_big = F.when(
        F.size(sh2) > 0,
        1.0 - F.size(F.array_distinct(sh2)).cast("double") / F.size(sh2),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        dup_tok.alias("dup_token_ratio"),
        dup_big.alias("dup_bigram_ratio"),
        ((dup_tok <= 0.85) & (dup_big <= 0.55)).alias("keep"),
    )


@query(
    "dedup_decontaminate",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sh_sql(8)}) AS shingle
        FROM documents WHERE doc_id % 97 = 0
    ),
    train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    hits AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest({_sh_sql(8)}) AS shingle FROM train) t
        JOIN ev USING (shingle)
    )
    SELECT doc_id, md5(text) AS content_md5
    FROM train
    WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    description="test-set decontamination: drop training docs sharing any "
    "8-gram with the eval corpus (eval shingle set broadcast; the big side "
    "never shuffles its text); fixture injects contaminated copies",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0).unionByName(
        ev.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    return decontaminate(train, ev, n=8).select(
        "doc_id", F.md5("text").alias("content_md5")
    )


#: Pinned Bloom geometry for the oracle-gated build-parity query (the
#: decontamination query derives its geometry from bloom_parameters
#: instead — the verify pass makes the result geometry-independent).
_BLOOM_BITS = 63 * 64
_BLOOM_HASHES = 5


def _bloom_word_sql(key: str, num_words: int) -> str:
    """DuckDB spelling of operators/bloom._block_word."""
    return f"('0x' || substr(md5({key} || ':0'), 1, 15))::BIGINT % {num_words}"


def _bloom_mask_sql(key: str, num_hashes: int) -> str:
    """DuckDB spelling of operators/bloom._block_mask (sum of DISTINCT
    powers of two == bitwise OR)."""
    return (
        f"CAST(list_sum(list_distinct(list_transform(range(1, {num_hashes + 1}), "
        f"i -> 1::BIGINT << CAST(('0x' || substr(md5({key} || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT "
        f"% 63 AS INT)))) AS BIGINT)"
    )


@query(
    "dedup_bloom_bits",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sh_sql(8)}) AS shingle
        FROM documents WHERE doc_id % 97 = 0
    ),
    wm AS (
        SELECT {_bloom_word_sql("shingle", _BLOOM_BITS // 63)} AS word,
               {_bloom_mask_sql("shingle", _BLOOM_HASHES)} AS m
        FROM ev
    )
    SELECT word, bit_or(m) AS bits FROM wm GROUP BY word
    """,
    description="register-blocked Bloom filter BUILD parity: each "
    "eval 8-gram selects ONE 63-bit word by its block hash and all "
    "its bits land inside it (sum-of-distinct-powers mask = bitwise "
    "OR), so a probe later costs one fixed-width row and one "
    "(bits & mask) = mask comparison instead of k exploded rows - "
    "and DuckDB replays every bit of the filter digit-for-digit. "
    "The filter is the broadcast-sized stand-in for a blocklist too "
    "large to broadcast raw (100M-key n-gram decontamination), "
    "persistable to parquet and mergeable by re-bit_or like the "
    "MinHash index",
)
def dedup_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bloom import bloom_build
    from auraverse_etl_pipeline_spark.operators.dedup import _shingle_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    ev_sh = (
        _shingle_table(ev, n=8, text_col="text", id_col="doc_id")
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    return bloom_build(ev_sh, "shingle", _BLOOM_BITS, _BLOOM_HASHES)


@query(
    "dedup_bloom_decontaminate",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sh_sql(8)}) AS shingle
        FROM documents WHERE doc_id % 89 = 0
    ),
    train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 89 <> 0
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 89 = 0
    ),
    hits AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest({_sh_sql(8)}) AS shingle FROM train) t
        JOIN ev USING (shingle)
    )
    SELECT doc_id, md5(text) AS content_md5
    FROM train
    WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    description="test-set decontamination through the Bloom filter "
    "scale path (operators/bloom.py bloom_decontaminate): eval "
    "shingles hash into the filter, training shingles probe it "
    "map-side against the broadcast words, and only flagged documents "
    "pay the exact verify join - zero false negatives, so the result "
    "must hash-match exact n-gram decontamination, which is precisely "
    "what the oracle replays. The regime where this beats the "
    "broadcast variant is a blocklist too large to ship raw; the "
    "verify step keeps the semantics exact either way",
)
def dedup_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bloom import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 89 == 0)
    train = docs.filter(F.col("doc_id") % 89 != 0).unionByName(
        ev.select((F.col("doc_id") + 300000).alias("doc_id"), "text")
    )
    return bloom_decontaminate(train, ev, n=8, fpp=0.01, expected_keys=5000).select(
        "doc_id", F.md5("text").alias("content_md5")
    )


@query(
    "mix_curriculum_order",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS score FROM documents
    ),
    t AS (
        SELECT [percentile_disc(0.2) WITHIN GROUP (ORDER BY score),
                percentile_disc(0.4) WITHIN GROUP (ORDER BY score),
                percentile_disc(0.6) WITHIN GROUP (ORDER BY score),
                percentile_disc(0.8) WITHIN GROUP (ORDER BY score),
                percentile_disc(1.0) WITHIN GROUP (ORDER BY score)] AS arr
        FROM b
    ),
    binned AS (
        SELECT doc_id, score,
               CAST(1 + len(list_filter(t.arr, x -> x < score)) AS INTEGER) AS bin
        FROM b, t
    )
    SELECT doc_id, score, bin,
           CAST(ROW_NUMBER() OVER (PARTITION BY bin
               ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 1000000007, doc_id)
             AS BIGINT) AS bin_rank
    FROM binned
    """,
    description="curriculum ordering: documents binned by difficulty "
    "score (token count here; ascending - bin 1 easiest) at exact "
    "percentile_disc thresholds from ONE cumulative histogram (never "
    "a global sort; ntile's arbitrary tie-splitting rejected for "
    "value-deterministic bins), Knuth-shuffled serving order within "
    "each bin - the training order is a pure RNG-free function of "
    "the data, reproduced exactly by DuckDB",
)
def mix_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import token_count
    from auraverse_etl_pipeline_spark.operators.sampling import curriculum_order

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("score")
    )
    return curriculum_order(docs, "score", n_bins=5).select(
        "doc_id", "score", "bin", "bin_rank"
    )


#: dedup_bloom_audit's geometry: bloom_parameters(5000, 0.01) — pinned
#: here so the oracle replays the exact filter the operator derives.
_BAUDIT_WORDS = 47943 // 63
_BAUDIT_HASHES = 7


@query(
    "dedup_bloom_audit",
    oracle=f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sh_sql(8)}) AS shingle
        FROM documents WHERE doc_id % 89 = 0
    ),
    train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 89 <> 0
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 89 = 0
    ),
    bloom AS (
        SELECT word, bit_or(m) AS bits FROM (
            SELECT {_bloom_word_sql("shingle", _BAUDIT_WORDS)} AS word,
                   {_bloom_mask_sql("shingle", _BAUDIT_HASHES)} AS m
            FROM ev
        ) GROUP BY word
    ),
    tsh AS (
        SELECT doc_id, unnest({_sh_sql(8)}) AS shingle FROM train
    ),
    flagged AS (
        SELECT doc_id FROM (
            SELECT t.doc_id,
                   bool_or((COALESCE(b.bits, 0) & t.m) = t.m) AS hit
            FROM (SELECT doc_id,
                         {_bloom_word_sql("shingle", _BAUDIT_WORDS)} AS word,
                         {_bloom_mask_sql("shingle", _BAUDIT_HASHES)} AS m
                  FROM tsh) t
            LEFT JOIN bloom b USING (word)
            GROUP BY t.doc_id
        ) WHERE hit
    ),
    confirmed AS (
        SELECT DISTINCT t.doc_id FROM tsh t
        JOIN flagged USING (doc_id) JOIN ev USING (shingle)
    ),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM train) AS BIGINT) AS n_train,
               CAST((SELECT COUNT(*) FROM flagged) AS BIGINT) AS n_flagged,
               CAST((SELECT COUNT(*) FROM confirmed) AS BIGINT) AS n_confirmed
    )
    SELECT n_train, n_flagged, n_confirmed,
           n_flagged - n_confirmed AS n_false_flagged,
           CASE WHEN n_flagged > 0 THEN n_confirmed / n_flagged
                ELSE CAST(1.0 AS DOUBLE) END AS flag_precision
    FROM c
    """,
    description="the Bloom tier's audit surface (the hot_buckets "
    "pattern: every lossy knob gets an observability query): how many "
    "documents the filter flagged vs how many the exact re-check "
    "confirmed - flag_precision quantifies exactly what verify=False "
    "would over-drop at this geometry. DuckDB replays the blocked "
    "filter, every flag decision and the confirmation join",
)
def dedup_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bloom import bloom_flag_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 89 == 0)
    train = docs.filter(F.col("doc_id") % 89 != 0).unionByName(
        ev.select((F.col("doc_id") + 300000).alias("doc_id"), "text")
    )
    return bloom_flag_report(train, ev, n=8, fpp=0.01, expected_keys=5000)


@query(
    "text_vocab_topk",
    oracle=f"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKS}) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
    description="corpus vocabulary top-k by frequency (explode -> "
    "partial-aggregated count -> deterministic top-k with token tie-break)",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


#: Per-language sampling rates (per mille) for the training-mixture
#: operator; the hash is a Knuth multiplicative bucket on doc_id so both
#: engines select the exact same rows with zero RNG.
_MIX_WEIGHTS = (("en", 900), ("de", 600), ("es", 400), ("fr", 250), ("zh", 125))
_MIX_CASE = (
    "CASE " + " ".join(f"WHEN lang = '{l}' THEN {w}" for l, w in _MIX_WEIGHTS) + " ELSE 0 END"
)


@query(
    "mix_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           (CAST(doc_id AS BIGINT) * 2654435761) % 1000 AS bucket
    FROM documents
    WHERE (CAST(doc_id AS BIGINT) * 2654435761) % 1000 < {_MIX_CASE}
    """,
    description="deterministic weighted mixture sampling (per-language "
    "rates via a Knuth multiplicative hash on doc_id - reproducible "
    "training-data mixing with no RNG state)",
)
def mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id").cast("bigint") * F.lit(2654435761)) % 1000
    rate = F.lit(0)
    for lang, w in reversed(_MIX_WEIGHTS):
        rate = F.when(F.col("lang") == lang, F.lit(w)).otherwise(rate)
    return docs.filter(bucket < rate).select(
        "doc_id", "lang", "source", bucket.alias("bucket")
    )


@query(
    "mix_stratified_quota",
    oracle="""
    WITH r AS (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 1000000007,
                            doc_id) AS sample_rank
        FROM documents
    )
    SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r
    WHERE sample_rank <= CASE lang WHEN 'en' THEN 40
                                   WHEN 'de' THEN 15
                                   WHEN 'fr' THEN 15
                                   ELSE 10 END
    """,
    description="exact-quota stratified sampling (the data-card "
    "promise 'N documents per language', vs mix_weighted_sample's "
    "rate-based draw): per-stratum rank by a Knuth hash of doc_id, "
    "keep rank <= quota - RNG-free, retry-stable, reproducible at any "
    "parallelism; per-stratum window state is O(quota) via the "
    "window TopK pushdown",
)
def mix_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    sampled = stratified_exact_sample(
        docs, "lang", {"en": 40, "de": 15, "fr": 15}, default_quota=10
    )
    return sampled.select(
        "doc_id", "lang", "source", F.col("sample_rank").cast("bigint").alias("sample_rank")
    )


@query(
    "text_length_histogram",
    oracle="""
    SELECT CASE WHEN n_chars < 0 THEN 0
                WHEN n_chars >= 600 THEN 13
                ELSE CAST(floor(n_chars * 12.0 / 600) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    description="document-length histogram via SQL-standard width_bucket "
    "(single scan, partial-aggregated)",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.width_bucket("n_chars", F.lit(0), F.lit(600), F.lit(12)).alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id < 15
    ),
    sh AS (SELECT doc_id, {_SH3} AS shingles FROM corpus),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
              >= 0.5
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs
    ),
    walk(id, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.id
    )
    SELECT id AS doc_id, MIN(label) AS component FROM walk GROUP BY id
    """,
    description="duplicate-CLUSTER labels via iterative min-label "
    "propagation (chains collapse to one component, unlike per-edge "
    "keep-first); fixture builds 3-deep copy chains; oracle is the "
    "recursive-CTE transitive closure",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import connected_component_labels

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # one parquet scan: the copy branches derive from the cached 150-row
    # base instead of re-scanning the corpus per union arm
    base = docs.filter(F.col("doc_id") < 150).cache()
    corpus = (
        base.unionByName(
            base.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        ).unionByName(
            base.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5, n=3)
    # pair the base cache with a release on the returned plan (the
    # labels' own release handle is a no-op — CC checkpoints instead)
    return release_after(connected_component_labels(pairs), base)


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id < 15
    ),
    sh AS (SELECT doc_id, {_SH3} AS shingles FROM corpus),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
              >= 0.5
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs
    ),
    walk(id, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS component FROM walk GROUP BY id),
    tok AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM corpus),
    j AS (
        SELECT c.component, c.doc_id, t.n_tokens
        FROM comp c JOIN tok t USING (doc_id)
    ),
    r AS (
        SELECT component, doc_id, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY n_tokens DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY component) AS n_members
        FROM j
    )
    SELECT component, doc_id AS kept_doc_id, n_tokens AS kept_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
    description="cluster-level representative selection: connected-"
    "component labels over the near-dup graph, then per cluster keep "
    "the HIGHEST-QUALITY member (most tokens, ties to lowest id) "
    "instead of blindly keeping the smallest id - the curation policy "
    "real pipelines want when duplicates differ in completeness. "
    "Recursive-CTE + window oracle",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from auraverse_etl_pipeline_spark.functions.text import token_count
    from auraverse_etl_pipeline_spark.operators.dedup import connected_component_labels

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 150).cache()
    corpus = (
        base.unionByName(
            base.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        ).unionByName(
            base.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5, n=3)
    labels = connected_component_labels(pairs)
    scored = labels.join(
        corpus.select("doc_id", token_count("text").alias("n_tokens")), "doc_id"
    )
    w = W.partitionBy("component").orderBy(F.col("n_tokens").desc(), "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count("*").over(W.partitionBy("component"))
    )
    result = (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_tokens").cast("bigint").alias("kept_tokens"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )
    return release_after(result, base)


# ---------------------------------------------------------------------------
# Context-window chunking and sequence packing (pretraining data prep)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48  # 64-token windows, 16-token overlap


@query(
    "text_chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n
        FROM documents WHERE doc_id < 100
    ),
    k AS (
        SELECT doc_id, toks, n,
               CASE WHEN n <= {_CHUNK} THEN 1
                    ELSE CAST(ceil((n - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1 END AS n_chunks
        FROM t
    ),
    e AS (
        SELECT doc_id, toks, unnest(range(n_chunks)) AS i FROM k
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ')) AS chunk_md5
    FROM e
    """,
    description="sliding context-window chunking (64-token windows, "
    "16-token overlap): one output row per chunk with its token count and "
    "content hash - the pretraining/RAG document splitter",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = tokens("text")
    n = F.size(toks)
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK) / float(_STRIDE)).cast("bigint") + 1
    )
    base = docs.select("doc_id", toks.alias("toks"), n_chunks.alias("n_chunks"))
    exploded = base.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx")
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


_PACK_BUDGET = 2048


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        -- CAST the window sum: DuckDB sums BIGINT into HUGEINT, which
        -- the driver's canonicalizer formats differently from Spark's
        -- bigint even when values agree (registry discipline: every
        -- aggregate lands in an exact comparable type)
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t
    ),
    assigned AS (
        SELECT source, (cum - 1) // {_PACK_BUDGET} AS pack_id, doc_id, n_tokens
        FROM c
    )
    SELECT source, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM assigned
    GROUP BY source, pack_id
    """,
    description="sequence packing plan: docs stream in id order per "
    "source into fixed 2048-token packs (cumulative-sum bucketing - the "
    "deterministic, shuffle-light approximation of first-fit packing; "
    "straddling docs split at the boundary in the writer)",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import token_count
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", token_count("text").alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    assigned = c.select(
        "source",
        # integer DIV (exact past 2^53), matching the oracle's `//`
        F.expr(f"(cum - 1) DIV {_PACK_BUDGET}").alias("pack_id"),
        "doc_id", "n_tokens",
    )
    return assigned.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def pack_manifest(t: DataFrame, budget: int = _PACK_BUDGET) -> DataFrame:
    """The manifest core over a (doc_id, source, n) token-count table:
    one row per (doc, pack) with the doc-relative [token_start,
    token_end) slice. Exposed separately from the registry query so
    edge cases (budget-sized docs, multi-pack spans, empty docs) test
    the windowing math directly."""
    from pyspark.sql import Window as W

    B = budget
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = t.withColumn("cum_end", F.sum("n").over(w)).withColumn(
        "cum_start", F.col("cum_end") - F.col("n")
    )
    s = c.filter(F.col("n") > 0)
    # integer DIV, not float `/`+cast: cumulative token counts past
    # 2^53 would lose precision in the double quotient — the oracle's
    # `//` is exact, so the Spark side must be too
    e = s.select(
        "doc_id",
        "source",
        "cum_start",
        "cum_end",
        F.explode(
            F.sequence(
                F.expr(f"cum_start DIV {B}"),
                F.expr(f"(cum_end - 1) DIV {B}"),
            )
        ).alias("pack_id"),
    )
    return e.select(
        "source",
        F.col("pack_id").cast("bigint").alias("pack_id"),
        "doc_id",
        (F.greatest("cum_start", F.col("pack_id") * B) - F.col("cum_start"))
        .cast("bigint")
        .alias("token_start"),
        (F.least("cum_end", (F.col("pack_id") + 1) * B) - F.col("cum_start"))
        .cast("bigint")
        .alias("token_end"),
    )


def materialize_packs(
    docs: DataFrame,
    budget: int = _PACK_BUDGET,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Execute the packing manifest: (source, pack_id, tokens
    array<string>, n_tokens) with every non-last pack per source
    exactly ``budget`` tokens — straddling documents contribute their
    manifest slice to each pack they span. One window + one join +
    one groupBy; segment order inside a pack is restored with
    ``array_sort`` over (doc_id, segment) structs, no sort exchange.
    The writer-side twin of :func:`pack_manifest` — at scale you write
    these rows out partitioned by source."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        "source",
        tokens(F.col(text_col)).alias("toks"),
    ).withColumn("n", F.size("toks").cast("bigint"))
    manifest = pack_manifest(t.select("doc_id", "source", "n"), budget)
    seg = F.slice(
        F.col("toks"),
        F.col("token_start").cast("int") + 1,
        (F.col("token_end") - F.col("token_start")).cast("int"),
    )
    segments = manifest.join(t.select("doc_id", "toks"), "doc_id").select(
        "source", "pack_id", "doc_id", seg.alias("seg")
    )
    ordered = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "seg"))),
            lambda x: x["seg"],
        )
    )
    return (
        segments.groupBy("source", "pack_id")
        .agg(ordered.alias("tokens"))
        .withColumn("n_tokens", F.size("tokens").cast("bigint"))
    )


@query(
    "text_pack_manifest",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n,
               CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        FROM t
    ),
    s AS (
        SELECT doc_id, source, n, cum_end - n AS cum_start, cum_end
        FROM c WHERE n > 0
    ),
    e AS (
        SELECT doc_id, source, cum_start, cum_end,
               unnest(range(cum_start // {_PACK_BUDGET},
                            (cum_end - 1) // {_PACK_BUDGET} + 1)) AS pack_id
        FROM s
    )
    SELECT source,
           CAST(pack_id AS BIGINT) AS pack_id,
           doc_id,
           CAST(GREATEST(cum_start, pack_id * {_PACK_BUDGET}) - cum_start AS BIGINT)
             AS token_start,
           CAST(LEAST(cum_end, (pack_id + 1) * {_PACK_BUDGET}) - cum_start AS BIGINT)
             AS token_end
    FROM e
    """,
    description="exact sequence-packing manifest: every pack is exactly "
    "2048 tokens (except each source's last) because documents "
    "straddling a pack boundary SPLIT - one row per (doc, pack) with "
    "the doc-relative [token_start, token_end) slice to write. The "
    "production twin of text_pack_sequences' whole-doc plan: one "
    "window + one explode over per-doc pack spans, no shuffle beyond "
    "the per-source cumulative sum",
)
def text_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", token_count("text").alias("n"))
    return pack_manifest(t, _PACK_BUDGET)


def _minhash_oracle_sql(
    num_hashes: int = 8, seed: int = 42, threshold: float = 0.5,
    labeled: bool = False,
) -> str:
    """DuckDB replica of the full MinHash-LSH pipeline under the md5
    base hash: hex15(md5(shingle)) % P, the exact affine coefficients
    from ``minhash_coeffs(num_hashes, seed)``, per-doc minima, r=1 band
    join, exact-Jaccard verification — byte-for-byte the Spark operator
    at the same (num_hash_tables, seed, jaccard_threshold).
    ``labeled=True`` emits EVERY candidate with a pos/neg label at the
    threshold instead of filtering (the contrastive-mining twin)."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(num_hashes, seed)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_case = " ".join(f"WHEN {i} THEN m{i}" for i in range(num_hashes))
    return f"""
    WITH sh AS (
        SELECT doc_id, {_SH3} AS sh FROM documents
    ),
    sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM mins, range({num_hashes}) r(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id
    )
    SELECT c.id1, c.id2,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard{", CASE WHEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= " + str(threshold) + " THEN 'pos' ELSE 'neg' END AS label" if labeled else ""}
    FROM cand c
    JOIN sh2 x ON x.doc_id = c.id1
    JOIN sh2 y ON y.doc_id = c.id2
    {"" if labeled else f"WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {threshold}"}
    """


def _minhash_index_oracle_sql() -> str:
    """DuckDB replica of the incremental index match under the md5 base
    hash: corpus signatures once, the new batch (exact copies of
    doc_id < 50 under shifted ids) reuses them, band join across sides,
    estimated Jaccard = agreeing-minhash fraction."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(8, 42)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_case = " ".join(f"WHEN {i} THEN m{i}" for i in range(8))
    agree = " + ".join(f"CAST(a.m{i} = b.m{i} AS BIGINT)" for i in range(8))
    return f"""
    WITH sh AS (
        SELECT doc_id, {_SH3} AS sh FROM documents
    ),
    sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    newmins AS (
        SELECT doc_id + 100000 AS doc_id, m0, m1, m2, m3, m4, m5, m6, m7
        FROM mins WHERE doc_id < 50
    ),
    ibands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM mins, range(8) r(i)
    ),
    nbands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM newmins, range(8) r(i)
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS indexed_id
        FROM nbands n JOIN ibands c ON n.i = c.i AND n.mh = c.mh
    )
    SELECT c.new_id, c.indexed_id, ({agree}) / 8.0 AS est_jaccard
    FROM cand c
    JOIN newmins a ON a.doc_id = c.new_id
    JOIN mins b ON b.doc_id = c.indexed_id
    WHERE ({agree}) / 8.0 >= 0.5
    """


def _stream_compaction_oracle_sql() -> str:
    """DuckDB replica of the closed streaming compaction loop: because
    every batch matches against index-so-far ∪ itself and the output is
    canonicalized (id1 < id2), the total match set is invariant to how
    the stream was split into batches — it equals ALL canonical
    signature pairs of the full corpus (documents ∪ shifted-id copies
    of doc_id < 50) with estimated Jaccard ≥ 0.5 under the md5 base
    hash. That batching-invariance is exactly what this oracle
    checks."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(8, 42)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_case = " ".join(f"WHEN {i} THEN m{i}" for i in range(8))
    agree = " + ".join(f"CAST(a.m{i} = b.m{i} AS BIGINT)" for i in range(8))
    return f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
    ),
    sh AS (
        SELECT doc_id, {_SH3} AS sh FROM base
    ),
    sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM mins, range(8) r(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.i = b.i AND a.mh = b.mh
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.id1, c.id2, ({agree}) / 8.0 AS est_jaccard
    FROM cand c
    JOIN mins a ON a.doc_id = c.id1
    JOIN mins b ON b.doc_id = c.id2
    WHERE ({agree}) / 8.0 >= 0.5
    """


@query(
    "dedup_incremental_minhash",
    oracle=_minhash_index_oracle_sql(),
    description="incremental dedup against a persisted MinHash index "
    "(the daily-ingest shape at corpus scale): a new batch (exact "
    "copies of doc_id < 50 under shifted ids) matches the corpus index "
    "via band joins over fixed-width signature rows - corpus text is "
    "never touched - with estimated Jaccard = agreeing-minhash "
    "fraction. Every injected copy must surface with est_jaccard 1.0; "
    "md5 base hash so the whole pipeline is oracle-gated",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_match_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = minhash_index(docs, n=3, hash_fn="md5")
    new_batch = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return minhash_match_index(
        new_batch, index, est_threshold=0.5, n=3, hash_fn="md5"
    )


def _merge_index_oracle_sql() -> str:
    """DuckDB replica of the index compaction: corpus signatures, a
    new batch (fresh shifted-id copies PLUS re-ingested doc_ids with
    mutated text), merged with index-wins anti-join + union semantics —
    the re-ingested rows must keep their ORIGINAL signatures."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(8, 42)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    batch AS (
        SELECT doc_id + 100000 AS doc_id, text FROM corpus WHERE doc_id < 50
        UNION ALL
        SELECT doc_id, text || ' EXTRA' AS text FROM corpus WHERE doc_id < 25
    ),
    allsh AS (
        SELECT 0 AS side, doc_id, {_SH3} AS sh FROM corpus
        UNION ALL
        SELECT 1 AS side, doc_id, {_SH3} AS sh FROM batch
    ),
    sh2 AS (SELECT side, doc_id, sh FROM allsh WHERE len(sh) > 0),
    ex AS (SELECT side, doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT side, doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT side, doc_id,
               {mins}
        FROM h GROUP BY side, doc_id
    ),
    imins AS (SELECT * EXCLUDE side FROM mins WHERE side = 0),
    bmins AS (SELECT * EXCLUDE side FROM mins WHERE side = 1)
    SELECT * FROM imins
    UNION ALL
    SELECT * FROM bmins b
    WHERE NOT EXISTS (SELECT 1 FROM imins i WHERE i.doc_id = b.doc_id)
    """


@query(
    "dedup_merge_index",
    oracle=_merge_index_oracle_sql(),
    description="index compaction - the write path of the incremental "
    "dedup loop: fold a new batch's signatures INTO the persisted "
    "MinHash index with dedup-on-doc_id, index-wins semantics (a "
    "re-ingested doc_id keeps its original signature, so ingest is "
    "idempotent and index rows never churn). The batch carries both "
    "genuinely-new shifted-id rows and re-ingested doc_ids with "
    "mutated text; the oracle is the anti-join + union spelling. At "
    "scale only the anti-join delta is appended to the bucketed index "
    "table - no existing row is rewritten",
)
def dedup_merge_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import (
        merge_into_index,
        minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    index = minhash_index(corpus, n=3, hash_fn="md5")
    batch = corpus.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(
        # re-ingest with mutated text: merged index must keep the
        # ORIGINAL signature for these ids (index-wins idempotence)
        corpus.filter(F.col("doc_id") < 25).select(
            "doc_id", F.concat(F.col("text"), F.lit(" EXTRA")).alias("text")
        )
    )
    merged = merge_into_index(minhash_index(batch, n=3, hash_fn="md5"), index)
    return merged.select(
        "doc_id", *[F.col("sig")[i].cast("bigint").alias(f"m{i}") for i in range(8)]
    )


@query(
    "dedup_minhash_md5_pairs",
    oracle=_minhash_oracle_sql(),
    description="the MinHash-LSH pipeline under the engine-portable md5 "
    "base hash, so banding + affine permutations + exact-Jaccard verify "
    "all run under the SQL oracle gate (the xxhash64 twin is the faster "
    "production path; same algorithm, JVM-only hash)",
)
def dedup_minhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, jaccard_threshold=0.5, n=3, hash_fn="md5", max_bucket_size=1000
    )


@query(
    "dedup_minhash_pairs",
    oracle=_minhash_oracle_sql(num_hashes=12, seed=7, threshold=0.35),
    description="MinHash-LSH near-duplicate pairs at a wider recall "
    "point (12 hash tables, lower exact-Jaccard threshold) under the "
    "engine-portable md5 base hash, so the whole pipeline is oracle-"
    "gated at a SECOND (bands, seed, threshold) configuration; "
    "hash_fn='xxhash64' remains the documented production fast path "
    "(same algorithm, JVM-only base hash — benchmark it outside the "
    "oracle gate)",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # cap opted in: this corpus has no duplicate cluster anywhere near
    # the cap (exact-tier clean), so the skew guard is pure insurance
    return minhash_near_duplicates(
        docs,
        jaccard_threshold=0.35,
        n=3,
        num_hash_tables=12,
        seed=7,
        hash_fn="md5",
        max_bucket_size=1000,
    )


def _hot_bucket_audit_oracle_sql() -> str:
    """DuckDB replica of the LSH hot-bucket audit under the md5 base
    hash: band the corpus signatures, report every (band, minhash)
    bucket above the cap with its member count."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(8, 42)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_case = " ".join(f"WHEN {i} THEN m{i}" for i in range(8))
    return f"""
    WITH sh AS (SELECT doc_id, {_SH3} AS sh FROM documents),
    sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM mins, range(8) r(i)
    )
    SELECT CAST(i AS INTEGER) AS band, mh, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM bands GROUP BY i, mh HAVING COUNT(*) > 2
    """


@query(
    "dedup_hot_bucket_audit",
    oracle=_hot_bucket_audit_oracle_sql(),
    description="the audit surface a capped LSH dedup run records: "
    "every (band, minhash) bucket above the cap with its member count "
    "(hot_buckets operator), so capped runs know exactly which "
    "buckets - and how many candidate pairs - they skipped instead of "
    "losing them silently. Cap 2 here so the audit is non-trivial at "
    "the correctness SF (the real caps sit far above every bucket at "
    "this scale - pinned in pytest); md5 base hash so it is oracle-gated",
)
def dedup_hot_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import (
        hot_buckets,
        minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_index(docs, n=3, hash_fn="md5")
    bands = sig.select("doc_id", F.posexplode("sig").alias("band", "mh"))
    return hot_buckets(bands, ["band", "mh"], cap=2).select(
        F.col("band").cast("int").alias("band"),
        "mh",
        F.col("n_members").cast("bigint").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: span-level dedup, the curation funnel, radius
# similarity search, and frame-sampling plumbing through the oracle gate
# ---------------------------------------------------------------------------


@query(
    "text_span_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
               i -> {{'pos': i, 'g': array_to_string(toks[i:i+7], ' ')}})) AS u
        FROM t
    ),
    pg AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM ex),
    rep AS (SELECT g FROM pg GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    sp AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + 7 AS BIGINT) AS e
        FROM pg JOIN rep USING (g)
    ),
    fl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM sp
    ),
    isl AS (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM fl
    )
    SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
           MAX(e) - MIN(s) + 1 AS span_tokens
    FROM isl GROUP BY doc_id, gid
    """,
    description="span-level substring dedup (the follow-up "
    "text_repeated_ngrams triages for, cf. suffix-array dedup of "
    "training corpora): token intervals of 8-gram instances shared by "
    ">= 2 documents, merged into maximal duplicated spans per document "
    "via a gaps-and-islands window. Cutting these spans out of the "
    "token stream IS the dedup; df counts and the membership join key "
    "on md5(gram) so text never shuffles",
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import repeated_span_report

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_report(docs, n=8, min_df=2)


@query(
    "curation_funnel",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, md5(text) AS h FROM documents),
    canon AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
    g AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS mwl,
               CAST(len(list_intersect(list_distinct({_TOKS}), {_EN_LIST})) AS BIGINT) AS sh,
               {_LANG_CASE} AS guessed
        FROM documents
    ),
    bt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bex AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM bt
    ),
    bc AS (SELECT bg, COUNT(*) AS cnt FROM bex GROUP BY bg),
    flq AS (
        SELECT e.doc_id,
               CAST(SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 <= 0.5 AS fluent
        FROM bex e JOIN bc c USING (bg) GROUP BY e.doc_id
    ),
    flags AS (
        SELECT d.doc_id,
               d.doc_id = c.keep_id AS canonical,
               {_gopher_keep_sql("g.n_words", "g.mwl", "g.sh")} AS gopher,
               g.guessed <> 'und' AS lang_ok,
               COALESCE(flq.fluent, FALSE) AS fluent
        FROM d JOIN canon c USING (h) JOIN g USING (doc_id)
        LEFT JOIN flq USING (doc_id)
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN canonical THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN canonical AND gopher THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN canonical AND gopher AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(SUM(CASE WHEN canonical AND gopher AND lang_ok AND fluent THEN 1 ELSE 0 END) AS BIGINT) AS c4
        FROM flags
    )
    SELECT CAST(1 AS BIGINT) AS stage_id, 'exact_dedup' AS stage,
           c0 AS docs_in, c1 AS docs_out, c0 - c1 AS dropped FROM agg
    UNION ALL SELECT CAST(2 AS BIGINT), 'gopher', c1, c2, c1 - c2 FROM agg
    UNION ALL SELECT CAST(3 AS BIGINT), 'lang_id', c2, c3, c2 - c3 FROM agg
    UNION ALL SELECT CAST(4 AS BIGINT), 'fluency', c3, c4, c3 - c4 FROM agg
    """,
    description="whole-pipeline attrition report (the dataset-card "
    "'where did my tokens go' table): exact dedup -> Gopher rules -> "
    "language ID -> corpus-fluency gate, counted cumulatively in ONE "
    "single-row aggregate fanned out to stage rows. Flags are "
    "codegen'd column algebra; only (md5, doc_id) pairs and bigram "
    "hashes ever shuffle",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import curation_funnel as funnel

    docs = load_table(spark, sf_dir, "documents")
    return funnel(docs)


@query(
    "sim_range_search",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id >= 10
    )
    SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
    FROM q, c
    WHERE list_cosine_similarity(qv, cv) >= 0.3
    """,
    description="radius (range) similarity search: ALL corpus neighbors "
    "within a cosine threshold of each query - the recall-oriented "
    "retrieval shape top-k truncates. Queries broadcast, corpus "
    "scanned once, ZERO shuffle (unlike top-k, which shuffles by "
    "query_id to rank); threshold calibrated to the synthetic "
    "embedding spread so the answer is non-trivial and bounded",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_range_search(
        corpus=emb.filter(F.col("vec_id") >= 10),
        queries=emb.filter(F.col("vec_id") < 10),
        threshold=0.3,
        exact_fold=True,
    )


@query(
    "multimodal_frame_manifest",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND length(text) > 0 AND doc_id % 3 = 2
    ),
    f AS (
        SELECT media_id, text,
               unnest(range(0, least(CAST(ceil(n / 64.0) AS BIGINT), 8))) AS frame_index
        FROM m
    )
    SELECT media_id, CAST(frame_index AS BIGINT) AS frame_index,
           md5(substring(text, CAST(frame_index * 64 + 1 AS INT), 64)) AS frame_md5,
           CAST(length(substring(text, CAST(frame_index * 64 + 1 AS INT), 64)) AS BIGINT)
             AS n_bytes
    FROM f
    """,
    description="video frame-sampling plumbing through the oracle gate: "
    "strided byte-window fan-out (sample_frames - native sequence + "
    "posexplode, no Python) over the synthetic media table's video "
    "rows, digested per frame. The ASCII guard (octet_length = "
    "char_length, enforced on BOTH sides) makes byte windows equal "
    "char windows so DuckDB can replay the exact frame digests",
)
def multimodal_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.octet_length("text") == F.length("text")) & (F.length("text") > 0)
    )
    media = attach_fake_media(docs).filter(F.col("kind") == "video")
    frames = sample_frames(media, frame_stride=64, max_frames=8)
    return frames.select(
        "media_id",
        "frame_index",
        F.md5("frame_bytes").alias("frame_md5"),
        F.length("frame_bytes").cast("bigint").alias("n_bytes"),
    )


@query(
    "text_span_dedup_apply",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
               i -> {{'pos': i, 'g': array_to_string(toks[i:i+7], ' ')}})) AS u
        FROM t
    ),
    pg AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM ex),
    inst AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM pg
    ),
    cov AS (
        SELECT doc_id, CAST(pos + r.j AS BIGINT) AS tpos, (rn = 1) AS kept
        FROM inst, range(0, 8) r(j)
    ),
    tokf AS (
        SELECT doc_id, tpos,
               bool_or(kept) AS any_kept, bool_or(NOT kept) AS any_red
        FROM cov GROUP BY doc_id, tpos
    ),
    rm AS (SELECT doc_id, tpos FROM tokf WHERE any_red AND NOT any_kept),
    alltok AS (
        SELECT tt.doc_id, u.pos AS tpos, u.tok
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                     i -> {{'pos': i, 'tok': toks[i]}})) AS u FROM t) tt(doc_id, u)
    ),
    final AS (
        SELECT a.doc_id, a.tpos, a.tok, (rm.tpos IS NOT NULL) AS removed
        FROM alltok a LEFT JOIN rm ON a.doc_id = rm.doc_id AND a.tpos = rm.tpos
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(string_agg(CASE WHEN NOT removed THEN tok END, ' ' ORDER BY tpos))
             AS clean_md5
    FROM final GROUP BY doc_id
    """,
    description="span-level substring dedup MATERIALIZED with "
    "keep-first semantics (Lee et al. at 8-gram granularity): the "
    "globally first instance of each duplicated gram survives, later "
    "instances lose their tokens unless a kept gram still covers them; "
    "per-doc digest of the cleaned token stream. Ranking windows on "
    "md5(gram); coverage explode is the honest n-x cost that "
    "text_repeated_ngrams triages; reassembly is a hash aggregate with "
    "in-group array_sort, no sort exchange",
)
def text_span_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import apply_span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return apply_span_dedup(docs, n=8)


@query(
    "dedup_embedding_clean",
    oracle=_PERTURBED_SQL.format(max_id=150)
    + _signlsh_cand_sql()
    + """
    , pairs AS (
        SELECT id1, id2
        FROM cand JOIN corpus x ON x.vec_id = cand.id1
                  JOIN corpus y ON y.vec_id = cand.id2
        WHERE list_cosine_similarity(x.v, y.v) >= 0.9
    )
    SELECT vec_id, md5(array_to_string(list_transform(v, x -> format('{:.6f}', x)), ','))
             AS vec_md5
    FROM corpus
    WHERE vec_id NOT IN (SELECT id2 FROM pairs)
    """,
    description="end-to-end semantic corpus cleaning (SemDeDup shape, "
    "deterministic tier): sign-bucket LSH candidates -> exact-cosine "
    "pairs -> keep-first representative per duplicate edge; survivors "
    "digested by a fixed-precision vector rendering so the whole "
    "cleaned corpus is hash-checked, not just counted",
)
def dedup_embedding_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import drop_near_duplicates
    from auraverse_etl_pipeline_spark.operators.similarity import signbucket_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_perturbed_copies(emb, max_id=150)
    pairs = signbucket_lsh_pairs(corpus, threshold=0.9, band_bits=_SIGNLSH_BAND_BITS)
    cleaned = drop_near_duplicates(corpus, pairs, id_col="vec_id")
    result = cleaned.select(
        "vec_id",
        F.md5(
            F.array_join(
                F.transform("embedding", lambda x: F.format_string("%.6f", x)), ","
            )
        ).alias("vec_md5"),
    )
    return release_after(result, pairs)


@query(
    "corpus_data_card",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, lang, text,
               CAST(len({_TOKS}) AS BIGINT) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS mean_word_len,
               CAST(len(list_intersect(list_distinct({_TOKS}), {_EN_LIST})) AS BIGINT)
                 AS stopword_hits
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang, md5(text) AS h, n_words AS toks,
               CAST(length(text) AS BIGINT) AS chars,
               CASE WHEN {_gopher_keep_sql()} THEN 1 ELSE 0 END AS gopher_ok
        FROM m
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               CAST(SUM(chars) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
               CAST(SUM(gopher_ok) AS BIGINT) AS n_gopher
        FROM b
    )
    SELECT 'volume' AS section, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
    UNION ALL SELECT 'volume', 'n_tokens', CAST(n_tokens AS DOUBLE) FROM agg
    UNION ALL SELECT 'volume', 'n_chars', CAST(n_chars AS DOUBLE) FROM agg
    UNION ALL SELECT 'dedup', 'exact_dup_rate',
              CAST((n_docs - n_distinct) / n_docs AS DOUBLE) FROM agg
    UNION ALL SELECT 'quality', 'gopher_pass_rate',
              CAST(n_gopher / n_docs AS DOUBLE) FROM agg
    UNION ALL SELECT 'length_tokens', 'p25',
              CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY toks) AS DOUBLE) FROM b
    UNION ALL SELECT 'length_tokens', 'p50',
              CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY toks) AS DOUBLE) FROM b
    UNION ALL SELECT 'length_tokens', 'p75',
              CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY toks) AS DOUBLE) FROM b
    UNION ALL
    SELECT 'lang_mix', lang, CAST(COUNT(*) / (SELECT COUNT(*) FROM b) AS DOUBLE)
    FROM b GROUP BY lang
    """,
    description="the one-call dataset card a corpus release ships: "
    "volume (docs/tokens/chars), exact-duplicate rate, Gopher pass "
    "rate (shared rule constants), token-length quartiles from ONE "
    "cumulative histogram (the q37 shape, not three percentile_disc "
    "states), and the language mix - per-doc metric rows cached with "
    "paired release so the text scans once, every value an exact "
    "integer ratio or exact percentile, reproduced digit-for-digit "
    "by DuckDB",
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import corpus_data_card as card

    docs = load_table(spark, sf_dir, "documents")
    return card(docs, lang_col="lang")


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (operators/retrieval.py)
# ---------------------------------------------------------------------------

from auraverse_etl_pipeline_spark.operators.retrieval import (  # noqa: E402
    BM25_B,
    BM25_K1,
)

#: Deterministic retrieval fixture: literal query strings over the
#: synthetic corpus's vocabulary — a common-terms query, a longer one,
#: one mixing the rare 'dup' (df≈25/500, high idf) with an absent term
#: ('zebra' must contribute nothing), and a stopword-ish query. One
#: Python constant feeds the Spark literal frame AND the SQL VALUES.
_BM25_QUERIES = (
    (0, "hash join table"),
    (1, "window sort merge stream"),
    (2, "dup spark zebra"),
    (3, "the a customer"),
)
_BM25_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)


@query(
    "text_bm25_index",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM tf GROUP BY term
    """,
    description="BM25 inverted-index build parity: the postings table "
    "(term, doc, tf, denormalized doc length - Lucene's norms pattern, "
    "so search never joins a corpus-sized length table) rolled up to "
    "per-term document frequency / total and max term frequency. One "
    "token explode + one partial-aggregated (doc, term) shuffle builds "
    "the whole persistable index; DuckDB replays the vocabulary stats "
    "exactly",
)
def text_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index

    docs = load_table(spark, sf_dir, "documents")
    idx = bm25_index(docs, cache=True)
    out = idx.postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.max("tf").cast("bigint").alias("max_tf"),
    )
    return release_after(out, idx.cache_handle)


#: Shared with the streaming twin (stream_bm25_index): a streaming-
#: segment-built index searched with the same queries must produce
#: exactly this batch answer.
_BM25_SEARCH_ORACLE = f"""
    WITH q(query_id, text) AS (VALUES {_BM25_VALUES}),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
    post AS (SELECT term, tf.id, tf.tf, dl.dl FROM tf JOIN dl USING (id)),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM dl
    ),
    qt AS (
        SELECT DISTINCT query_id, term
        FROM (SELECT query_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS term
              FROM q)
    ),
    qidf AS (
        SELECT query_id, term,
               ln(CAST(1.0 AS DOUBLE)
                  + (n_docs - df + CAST(0.5 AS DOUBLE))
                    / (df + CAST(0.5 AS DOUBLE))) AS idf,
               CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
        FROM dfs JOIN qt USING (term) CROSS JOIN stats
    ),
    contrib AS (
        SELECT query_id, post.id AS doc_id,
               idf * (tf * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
                   / (tf + CAST({BM25_K1!r} AS DOUBLE)
                          * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                             + CAST({BM25_B!r} AS DOUBLE) * dl / avgdl)) AS w
        FROM post JOIN qidf USING (term)
    ),
    scores AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS score
        FROM contrib GROUP BY query_id, doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM (
        SELECT query_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM scores
    ) WHERE rank <= 10
    """


@query(
    "text_bm25_search",
    oracle=_BM25_SEARCH_ORACLE,
    description="BM25 top-k retrieval over the persistable inverted "
    "index: query terms probe the vocabulary-sized df table with a "
    "broadcast, per-term idf = ln(1 + (N-df+0.5)/(df+0.5)) runs in the "
    "Python-libm Arrow batch over the tiny query-term table (JVM "
    "Math.log vs DuckDB ln last-ulp rule), the weighted terms "
    "broadcast against postings so the corpus side never shuffles, "
    "per-doc sums are order-independent DECIMAL partials, top-k ties "
    "break on doc id. Absent query terms ('zebra') drop out in the "
    "inner df join; DuckDB replays scores digit-for-digit",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), "query_id bigint, text string"
    )
    idx = bm25_index(docs, cache=True)
    out = bm25_search(queries, idx, k=10)
    return release_after(out, idx.cache_handle)


_PMI_MIN_COUNT = 5
_PMI_DELTA = 5


@query(
    "text_pmi_phrases",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM t
    ),
    pc AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM bg GROUP BY g HAVING COUNT(*) >= {_PMI_MIN_COUNT}
    ),
    pcs AS (
        SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
               pair_count
        FROM pc
    ),
    uc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc)
    SELECT w1, w2, pair_count,
           a.c AS w1_count, b.c AS w2_count,
           CAST(pair_count - {_PMI_DELTA} AS DOUBLE) * CAST(n_tok AS DOUBLE)
             / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS score
    FROM pcs
    JOIN uc a ON pcs.w1 = a.w
    JOIN uc b ON pcs.w2 = b.w
    CROSS JOIN n
    """,
    description="word2phrase collocation mining (discounted-PMI score "
    "(pair-delta)*N/(c1*c2) over adjacent word pairs): the multi-word-"
    "unit detector a tokenizer or shingler runs before training. "
    "Bigram instances build JVM-side (NGram - no positional corpus "
    "self-join), counts stay exact BIGINTs partial-aggregated map-"
    "side, the score multiplies DOUBLE-converted factors so web-scale "
    "unigram products cannot overflow, and the vocabulary-sized "
    "unigram table (consumed by both the w1 and w2 joins) is cached "
    "with paired release; AQE left free to broadcast - no hint, a web "
    "corpus's unigram table can exceed broadcast limits",
)
def text_pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import pmi_phrases

    docs = load_table(spark, sf_dir, "documents")
    return pmi_phrases(docs, min_count=_PMI_MIN_COUNT, delta=_PMI_DELTA)


# ---------------------------------------------------------------------------
# In-engine BPE tokenizer training (operators/bpe.py)
# ---------------------------------------------------------------------------

_BPE_TRAIN_MERGES = 6


#: Initial-symbol fragments for the BPE oracle chain: (list-length
#: expression, i-th symbol expression) over a vocabulary word. Char
#: level splits per codepoint (string_split('') — matches Spark's
#: split('') per the probe pinned in operators/bpe.py); byte level
#: slices the uppercase UTF-8 hex pairwise, engine-neutral for any
#: unicode input.
_BPE_CHAR_S0 = ("len(string_split(word, ''))", "string_split(word, '')[i]")
_BPE_BYTE_S0 = ("length(hex(word)) // 2", "substring(hex(word), 2*i-1, 2)")


def _bpe_train_oracle(m: int, s0: tuple[str, str] = _BPE_CHAR_S0) -> str:
    """Unrolled round-for-round DuckDB replay of :func:`bpe_train` /
    :func:`bytebpe_train` (``s0`` picks the symbol alphabet): each
    learned merge is three window/aggregate CTEs (pair counts +
    deterministic argmax, greedy non-overlap via consecutive-run even
    offsets, rebuild with renumbered positions) — plain chained CTEs,
    generated from the same round template the Spark loop executes, so
    a geometry change touches one definition."""
    n_expr, sym_expr = s0
    sql = [
        f"""
    WITH wf AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS}) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    s0 AS (
        SELECT word, freq, CAST(u.i AS BIGINT) AS i, u.sym
        FROM (SELECT word, freq,
                     unnest(list_transform(range(1, {n_expr} + 1),
                            i -> {{'i': i, 'sym': {sym_expr}}})) AS u
              FROM wf) t(word, freq, u)
    )"""
    ]
    for r in range(m):
        sql.append(
            f""",
    p{r} AS MATERIALIZED (
        SELECT word, freq, i, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
        FROM s{r}
    ),
    c{r} AS (
        SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM p{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    b{r} AS MATERIALIZED (
        SELECT lhs, rhs, cnt FROM c{r}
        ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
    ),
    m{r} AS (
        SELECT p.word, p.i FROM p{r} p, b{r} b
        WHERE p.sym = b.lhs AND p.nxt = b.rhs
    ),
    k{r} AS MATERIALIZED (
        SELECT word, i FROM (
            SELECT word, i, i - MIN(i) OVER (PARTITION BY word, isl) AS off
            FROM (SELECT word, i,
                         i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS isl
                  FROM m{r})
        ) WHERE off % 2 = 0
    ),
    s{r + 1} AS MATERIALIZED (
        SELECT p.word, p.freq,
               CAST(ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.i)
                    AS BIGINT) AS i,
               CASE WHEN k1.i IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
        FROM p{r} p
        LEFT JOIN k{r} k1 ON p.word = k1.word AND p.i = k1.i
        LEFT JOIN k{r} k2 ON p.word = k2.word AND p.i = k2.i + 1
        WHERE k2.i IS NULL
    )"""
        )
    sql.append(
        "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS step, lhs, rhs, cnt AS pair_count FROM b{r}"
            for r in range(m)
        )
    )
    return "".join(sql)


@query(
    "text_bpe_train",
    oracle=_bpe_train_oracle(_BPE_TRAIN_MERGES),
    description="BPE tokenizer training IN the engine (Sennrich-style "
    "word-level merges): after ONE corpus scan counts word "
    "frequencies, training state is the word VOCABULARY (never the "
    "corpus), each round = vocabulary-sized pair-count aggregate + "
    "1-row argmax to the driver (the connected-components control "
    "pattern) + greedy non-overlapping merge spelled as pure window "
    "algebra (consecutive-run even offsets), state localCheckpointed "
    "per round. Deterministic (count, lhs, rhs) tie-break so ANY "
    "engine reproduces the merge table; DuckDB replays all rounds "
    "digit-for-digit from an unrolled CTE chain generated by the same "
    "round template",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, num_merges=_BPE_TRAIN_MERGES)


def _bpe_encode_oracle(m: int, s0: tuple[str, str] = _BPE_CHAR_S0) -> str:
    """Encode-path oracle: the final training state ``s{m}`` IS the
    piece sequence of every training-corpus word (rank-order encoding
    replays the merge history — pinned in pytest), so the per-document
    piece stream is tokens-in-order joined to per-word piece strings,
    digested per document."""
    chain = _bpe_train_oracle(m, s0)
    chain = chain[: chain.index("\n    SELECT CAST(0 AS BIGINT) AS step")]
    return (
        chain
        + f""",
    wp AS (
        SELECT word, string_agg(sym, ' ' ORDER BY i) AS pieces,
               CAST(COUNT(*) AS BIGINT) AS n FROM s{m} GROUP BY word
    ),
    alltok AS (
        SELECT doc_id, u.pos AS tpos, u.tok
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKS}) + 1),
                            i -> {{'pos': i, 'tok': ({_TOKS})[i]}})) AS u
              FROM documents) t(doc_id, u)
        WHERE u.tok <> ''
    )
    SELECT a.doc_id,
           CAST(SUM(w.n) AS BIGINT) AS n_pieces,
           md5(string_agg(w.pieces, ' ' ORDER BY a.tpos)) AS pieces_md5
    FROM alltok a JOIN wp w ON a.tok = w.word
    GROUP BY a.doc_id
    """
    )


@query(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_TRAIN_MERGES),
    description="corpus tokenization with the learned BPE merges, "
    "oracle-gated end-to-end: the merge table collects to a rank dict "
    "(model-sized, the NB-weights pattern) closed over a memoized "
    "Arrow-batched kernel - embarrassingly parallel, no shuffle on "
    "the corpus side; DuckDB replays it from the training chain's "
    "final vocabulary state (rank-order encoding reproduces the merge "
    "history per word), comparing per-document piece count AND the "
    "md5 of the space-joined piece stream",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=_BPE_TRAIN_MERGES)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_pieces",
        F.md5(F.concat_ws(" ", "pieces")).alias("pieces_md5"),
    )


@query(
    "text_tfidf_keywords",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    stats AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs FROM tf),
    idf AS (
        SELECT term, ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS idf
        FROM dfs CROSS JOIN stats
    ),
    scored AS (
        SELECT tf.id AS doc_id, tf.term, tf.tf,
               CAST(tf.tf AS DOUBLE) * idf.idf AS tfidf
        FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, term, tf, tfidf, rank FROM (
        SELECT doc_id, term, tf, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term ASC)
                    AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    description="per-document keyword extraction: top-3 terms by "
    "tf*ln(N/df) over the same persistable inverted index the BM25 "
    "tier builds - idf in the Python-libm Arrow batch over the "
    "vocabulary-sized df table, broadcast into the postings scan (no "
    "corpus-side shuffle), ONE top-k window per document with "
    "WindowGroupLimit pruning and term-name tie-break",
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        tfidf_keywords,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = bm25_index(docs, cache=True)
    return release_after(tfidf_keywords(idx, k=3), idx.cache_handle)


@query(
    "text_bm25_merge",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM dl
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS df_postings,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MAX(tf) AS BIGINT) AS max_tf,
           CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
    FROM tf CROSS JOIN stats
    GROUP BY term, total_len, n_docs
    """,
    description="BM25 index compaction - the lexical twin of "
    "dedup_merge_index / ivf_assign, closing the daily-loop write "
    "path: day-1 index + a re-ingest batch (overlap plus new docs) "
    "merge with index-wins idempotence, delta-only cost (anti-join on "
    "the doc id, postings union is logical, Lucene's segment identity "
    "sums the two vocabulary-sized df tables, 1-row stats add - the "
    "existing corpus is never re-aggregated). The oracle is the "
    "INVARIANT: merged index == the index built on the full corpus, "
    "checked per-term over df from BOTH the merged df table and the "
    "merged postings, tf rollups, and the merged avgdl",
)
def text_bm25_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_index,
        bm25_merge,
    )

    def _index_of(postings: DataFrame) -> Bm25Index:
        # the df and stats tables, re-derived from (term, id, tf, dl)
        return Bm25Index(
            postings=postings,
            dfs=postings.groupBy("term").agg(
                F.count(F.lit(1)).cast("bigint").alias("df")
            ),
            stats=postings.groupBy("id")
            .agg(F.max("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("dl").cast("bigint").alias("total_len"),
            ),
        )

    docs = load_table(spark, sf_dir, "documents")
    # one tokenize for both sides: the batch re-ingests everything, and
    # day-1's independently-built index equals the batch index filtered
    # to day-1 ids (same texts), so derive it from the SAME materialized
    # postings — a real daily loop LOADS both as parquet scans instead.
    # EAGER cut, not .persist() (optimization r18, the
    # funnel's lineage-cut rule): everything downstream — day-1's
    # filtered tables, the merge anti-join, the postings union, the
    # roll — derives from this ONE frame, and a cache leaves the
    # tokenize+aggregate forest embedded as the cached subtree's
    # logical plan, re-analyzed by Catalyst under every consumer. The
    # cut stands in for the parquet scan of a real daily loop. The
    # internal (id, term, tf) cache is consumed only inside this
    # materialization (tf side + dl side), so it releases right here
    # instead of riding the returned frame's handle; both indexes'
    # df and stats tables derive from the cut postings, not from the
    # released tf.
    built = bm25_index(docs, cache=True)  # re-ingests day1 + new docs
    postings = cut(built.postings)
    built.cache_handle.unpersist()
    p1 = postings.filter(F.col("id") % 3 != 0).persist()
    merged = bm25_merge(_index_of(p1), _index_of(postings))
    roll = merged.postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_postings"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.max("tf").cast("bigint").alias("max_tf"),
    )
    out = (
        merged.dfs.join(roll, "term")
        .crossJoin(
            F.broadcast(
                merged.stats.select(
                    (
                        F.col("total_len").cast("double")
                        / F.col("n_docs").cast("double")
                    ).alias("avgdl")
                )
            )
        )
        .select("term", "df", "df_postings", "total_tf", "max_tf", "avgdl")
    )
    return release_after(out, p1)


_RP_OUT_DIM = 16
_RP_SEED = 42


def _random_projection_oracle() -> str:
    """The ±1 JL sign matrix is pure data (md5-derived), so it embeds
    as a SQL literal generated from the SAME projection_signs call the
    Spark operator uses; the per-dim fold is DuckDB's sequential
    list_reduce, matching Spark's ordered left-fold bit-for-bit."""
    from auraverse_etl_pipeline_spark.operators.similarity import projection_signs

    signs = projection_signs(64, _RP_OUT_DIM, _RP_SEED)
    mat = (
        "["
        + ", ".join(
            "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in row) + "]"
            for row in signs
        )
        + "]"
    )
    inv = repr(1.0 / (_RP_OUT_DIM**0.5))
    return f"""
    WITH v AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (SELECT unnest(range(0, {_RP_OUT_DIM})) AS dim),
    m AS (SELECT {mat}::DOUBLE[][] AS mat)
    SELECT id, CAST(dim AS BIGINT) AS dim,
           list_reduce(list_transform(range(1, 65),
                                      i -> v.v[i] * mat[dim + 1][i]),
                       (a, b) -> a + b) * CAST({inv} AS DOUBLE) AS value
    FROM v CROSS JOIN dims CROSS JOIN m
    """


@query(
    "sim_random_projection",
    oracle=_random_projection_oracle(),
    description="Johnson-Lindenstrauss dimensionality reduction with "
    "a deterministic md5-derived +-1 sign matrix (Achlioptas): 64->16 "
    "dims per vector as codegen'd ordered left-folds - NO shuffle, no "
    "Python, and the matrix is engine-re-derivable data, not shipped "
    "weights. The cheap pre-step that cuts PQ/IVF/LSH input width 4x; "
    "pairwise-distance preservation pinned in pytest, every projected "
    "component replayed digit-for-digit by DuckDB's sequential list "
    "fold",
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(
        emb, in_dim=64, out_dim=_RP_OUT_DIM, seed=_RP_SEED
    )


def _lsh_audit_oracle_sql() -> str:
    """DuckDB replica of the LSH evaluation harness on the audit
    slice: the md5 MinHash band pipeline for candidates, the sparse
    all-pairs shingle join for ground truth, FULL OUTER confusion."""
    from auraverse_etl_pipeline_spark.operators.dedup import _MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(8, 42)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_case = " ".join(f"WHEN {i} THEN m{i}" for i in range(8))
    return f"""
    WITH sh AS (
        SELECT doc_id, {_SH3} AS sh FROM documents WHERE doc_id < 150
    ),
    sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split(substr(md5(s), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b) % {_MINHASH_P} AS h
        FROM ex
    ),
    mins AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, i, CASE i {band_case} END AS mh
        FROM mins, range(8) r(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id
    ),
    lens AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh2),
    pairs AS (
        SELECT e1.doc_id AS id1, e2.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM ex e1 JOIN ex e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
        GROUP BY 1, 2
    ),
    sharing AS (
        SELECT id1, id2, n_shared / (l1.n_sh + l2.n_sh - n_shared) AS jaccard
        FROM pairs
        JOIN lens l1 ON pairs.id1 = l1.doc_id
        JOIN lens l2 ON pairs.id2 = l2.doc_id
    ),
    uni AS (
        SELECT COALESCE(s.jaccard, CAST(0.0 AS DOUBLE)) AS jaccard,
               (c.id1 IS NOT NULL) AS is_cand
        FROM sharing s FULL OUTER JOIN cand c ON s.id1 = c.id1 AND s.id2 = c.id2
    ),
    counts AS (
        SELECT CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
               CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN is_cand AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN is_cand AND jaccard < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN NOT is_cand AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM uni
    )
    SELECT n_truth, n_candidates, tp, fp, fn,
           CASE WHEN n_candidates > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) END
             AS candidate_precision,
           CASE WHEN n_truth > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall
    FROM counts
    """


@query(
    "dedup_lsh_quality_audit",
    oracle=_lsh_audit_oracle_sql(),
    description="the LSH evaluation harness as a query: band-join "
    "CANDIDATES vs exact shingle-Jaccard ground truth on a bounded "
    "audit slice - one confusion row (n_truth, n_candidates, tp, fp, "
    "fn, candidate_precision, recall). candidate_precision is the "
    "verify-stage cost signal, recall is the only approximation left "
    "after exact verification; a pipeline owner tunes band count / "
    "shingle n / caps against THIS measurement, in-engine, instead of "
    "theory. Shingle table cached once for signatures + truth join + "
    "lookups; counts exact BIGINTs",
)
def dedup_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import lsh_quality_audit

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return lsh_quality_audit(docs, jaccard_threshold=0.5, n=3, hash_fn="md5")


@query(
    "embedding_data_card",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    b AS (
        SELECT vec_id, label,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                                (a, c) -> a + c)) AS norm,
               CAST(len(v) AS BIGINT) AS dim,
               v
        FROM v
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(MIN(dim) AS BIGINT) AS dim,
               CAST(SUM(CAST(norm AS DECIMAL(38,12))) AS DOUBLE) AS norm_sum
        FROM b
    ),
    dimsums AS (
        SELECT d, CAST(SUM(CAST(b.v[d] AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM b CROSS JOIN (SELECT unnest(range(1, 65)) AS d)
        GROUP BY d
    ),
    cn AS (
        SELECT sqrt(CAST(SUM(CAST((s / n_vectors) * (s / n_vectors)
                                  AS DECIMAL(38,12))) AS DOUBLE))
                 AS centroid_norm
        FROM dimsums CROSS JOIN agg
    )
    SELECT 'volume' AS section, 'n_vectors' AS metric,
           CAST(n_vectors AS DOUBLE) AS value FROM agg
    UNION ALL SELECT 'volume', 'dim', CAST(dim AS DOUBLE) FROM agg
    UNION ALL SELECT 'norm', 'mean', norm_sum / n_vectors FROM agg
    UNION ALL SELECT 'norm', 'p25',
              percentile_disc(0.25) WITHIN GROUP (ORDER BY norm) FROM b
    UNION ALL SELECT 'norm', 'p50',
              percentile_disc(0.50) WITHIN GROUP (ORDER BY norm) FROM b
    UNION ALL SELECT 'norm', 'p75',
              percentile_disc(0.75) WITHIN GROUP (ORDER BY norm) FROM b
    UNION ALL SELECT 'geometry', 'centroid_norm', centroid_norm FROM cn
    UNION ALL
    SELECT 'label_mix', CAST(label AS VARCHAR),
           CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM b)
    FROM b GROUP BY label
    """,
    description="the embedding-table twin of corpus_data_card: one "
    "call -> (section, metric, value) rows covering volume, the L2 "
    "norm distribution (mean + exact quartiles from ONE cumulative "
    "histogram - un-normalized vectors silently break cosine tiers, "
    "this catches them), centroid norm (embedding-collapse smell), "
    "label mix. Per-vector norms are ordered left-folds matching "
    "DuckDB's sequential list fold; every cross-row aggregate runs "
    "DECIMAL(38,12) partials so the card is engine-exact",
)
def embedding_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        embedding_data_card as card,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return card(emb)


@query(
    "mix_length_buckets",
    oracle=f"""
    WITH d AS (
        SELECT CAST(len({_TOKS}) AS BIGINT) AS toks FROM documents
    ),
    b AS (
        SELECT toks,
               CASE WHEN toks <= 1 THEN CAST(1 AS BIGINT)
                    ELSE CAST(pow(2, length(bin(toks - 1))) AS BIGINT) END AS bucket
        FROM d
    ),
    agg AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, total_tokens,
           CAST(n_docs * bucket AS BIGINT) AS padded_tokens,
           CAST(n_docs * bucket - total_tokens AS DOUBLE)
             / CAST(n_docs * bucket AS DOUBLE) AS waste_ratio
    FROM agg
    """,
    description="length-bucketed batching plan: every document lands "
    "in the smallest power-of-two bucket holding its token count "
    "(2^bit_length(n-1) via the BINARY-STRING length - no log2, whose "
    "exact-power ulp behavior differs across libms), and the report "
    "prices the padding a dataloader pays per bucket - the "
    "measurement that chooses between bucketing and exact sequence "
    "packing. One token-count scan, a <=20-row aggregate, exact "
    "integers end-to-end",
)
def mix_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import length_bucket_plan

    docs = load_table(spark, sf_dir, "documents")
    return length_bucket_plan(docs)


_HYBRID_QUERY_IDS = (3, 47, 101)
_RRF_K = 60

#: Shared oracle CTE prefix for the hybrid retrieval stack
#: (corpus -> BM25 lex top-20 -> exact dense top-20 -> RRF fusion):
#: ``sim_hybrid_search`` selects the fused top-10 from it and
#: ``sim_retrieval_quality_audit`` scores all three rankings with
#: nDCG@10 — one spelling, so the two oracles cannot drift.
_HYBRID_STACK_CTES = f"""corpus AS (
        SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    q AS (
        SELECT doc_id AS query_id, text, v
        FROM corpus WHERE doc_id IN {_HYBRID_QUERY_IDS}
    ),
    tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS term
              FROM corpus)
        GROUP BY doc_id, term
    ),
    dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
    post AS (SELECT term, tf.id, tf.tf, dl.dl FROM tf JOIN dl USING (id)),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM dl
    ),
    qt AS (
        SELECT DISTINCT query_id, term
        FROM (SELECT query_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS term
              FROM q)
    ),
    qidf AS (
        SELECT query_id, term,
               ln(CAST(1.0 AS DOUBLE)
                  + (n_docs - df + CAST(0.5 AS DOUBLE))
                    / (df + CAST(0.5 AS DOUBLE))) AS idf,
               CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
        FROM dfs JOIN qt USING (term) CROSS JOIN stats
    ),
    contrib AS (
        SELECT query_id, post.id AS doc_id,
               idf * (tf * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
                   / (tf + CAST({BM25_K1!r} AS DOUBLE)
                          * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                             + CAST({BM25_B!r} AS DOUBLE) * dl / avgdl)) AS w
        FROM post JOIN qidf USING (term)
    ),
    lex AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) DESC,
                                doc_id ASC) AS BIGINT) AS rank
            FROM contrib GROUP BY query_id, doc_id
        ) WHERE rank <= 20
    ),
    dense AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT q.query_id, c.doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                c.doc_id ASC) AS BIGINT) AS rank
            FROM q, corpus c
        ) WHERE rank <= 20
    ),
    fused AS (
        SELECT COALESCE(l.query_id, d.query_id) AS query_id,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.rank), CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.rank), CAST(0.0 AS DOUBLE))
                 AS rrf_score
        FROM lex l FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )"""



@query(
    "sim_hybrid_search",
    oracle=f"""
    WITH {_HYBRID_STACK_CTES}
    SELECT query_id, doc_id, rrf_score, rank FROM (
        SELECT query_id, doc_id, rrf_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
    description="hybrid retrieval - the modern RAG stack end-to-end: "
    "BM25 over the inverted index AND exact dense cosine over the "
    "paired embedding column, fused with reciprocal-rank fusion "
    "(1/(60+rank), rank-only - no cross-system score calibration). "
    "Each retriever keeps its own optimal plan (broadcast query "
    "terms / broadcast query vectors, corpus never shuffles); the "
    "fusion join is bounded by queries x (k_lex + k_dense). Fully "
    "oracle-gated including both rankers and the fused ordering",
)
def sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
        hybrid_rrf,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import cosine_top_k

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    qfilter = F.col("doc_id").isin(*_HYBRID_QUERY_IDS)
    idx = bm25_index(corpus, cache=True)
    lex = bm25_search(
        corpus.filter(qfilter).select(F.col("doc_id").alias("query_id"), "text"),
        idx,
        k=20,
    )
    dense = cosine_top_k(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        corpus.filter(qfilter).select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=20,
        exact_fold=True,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    out = hybrid_rrf(lex, dense, k=10, rrf_k=_RRF_K)
    return release_after(out, idx.cache_handle)


@query(
    "sim_retrieval_quality_audit",
    oracle=f"""
    WITH {_HYBRID_STACK_CTES},
    hybrid AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rrf_score DESC, doc_id ASC)
                        AS BIGINT) AS rank
            FROM fused
        ) WHERE rank <= 10
    ),
    runs AS (
        SELECT 'bm25' AS system, query_id, doc_id, rank FROM lex
        UNION ALL
        SELECT 'dense' AS system, query_id, doc_id, rank FROM dense
        UNION ALL
        SELECT 'hybrid' AS system, query_id, doc_id, rank FROM hybrid
    ),
    truth AS MATERIALIZED (
        SELECT query_id, doc_id, CAST(11 - rank AS DOUBLE) AS rel
        FROM dense WHERE rank <= 10
    ),
    got AS (
        SELECT r.system, r.query_id, r.rank,
               COALESCE(t.rel, CAST(0.0 AS DOUBLE)) AS rel
        FROM runs r LEFT JOIN truth t USING (query_id, doc_id)
        WHERE r.rank <= 10
    ),
    g AS (
        SELECT system, query_id, rank,
               rel / log2(CAST(rank + 1 AS DOUBLE)) AS gain
        FROM got
    ),
    dcg AS (
        SELECT system, query_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list(gain ORDER BY rank)),
                           (a, b) -> a + b) AS dcg
        FROM g GROUP BY system, query_id
    ),
    ide AS (
        SELECT query_id, rel,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rel DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM truth
    ),
    ig AS (
        SELECT query_id, rank,
               rel / log2(CAST(rank + 1 AS DOUBLE)) AS gain
        FROM ide WHERE rank <= 10
    ),
    idcg AS (
        SELECT query_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list(gain ORDER BY rank)),
                           (a, b) -> a + b) AS idcg
        FROM ig GROUP BY query_id
    )
    SELECT d.system, d.query_id, d.dcg,
           COALESCE(i.idcg, CAST(0.0 AS DOUBLE)) AS idcg,
           CASE WHEN COALESCE(i.idcg, CAST(0.0 AS DOUBLE)) > 0.0
                THEN d.dcg / i.idcg ELSE CAST(0.0 AS DOUBLE) END AS ndcg
    FROM dcg d LEFT JOIN idcg i USING (query_id)
    """,
    description="nDCG@10 evaluation of the full hybrid retrieval stack "
    "- the measurement that justifies RRF's k=60 and arbitrates "
    "BM25-only vs dense-only vs hybrid (the lexical twin of "
    "sim_ann_recall_audit): all three systems' rankings from the "
    "sim_hybrid_search stack scored against exact-cosine graded truth "
    "(dense top-10, grades 10..1 - so dense pins at exactly 1.0). "
    "Engine-exact: Python-libm log2 discounts (bit-matches DuckDB, "
    "probed on 40k inputs), ordered left-to-right DCG folds so no "
    "float crosses an unordered aggregate, left-joined idcg with the "
    "0.0-not-NaN convention for uncovered queries. Bounded by "
    "systems x queries x k after the retrievers' own top-k plans",
)
def sim_retrieval_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
        hybrid_rrf,
        retrieval_quality_audit,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import cosine_top_k

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    qfilter = F.col("doc_id").isin(*_HYBRID_QUERY_IDS)
    idx = bm25_index(corpus, cache=True)
    # lex feeds the fused ranking AND its own run row; dense feeds the
    # fusion, its run row, AND the truth grades. EAGER cut,
    # not .cache() (optimization r18 — the crawl funnel's lineage-cut
    # rule): both frames are queries×k rows, but a .cache() leaves the
    # whole retrieval forest (tokenize+postings aggregate on the lex
    # side, the 64-dim exact-cosine fold on the dense side) embedded as
    # the cached subtree's LOGICAL plan, and Catalyst re-analyzes it at
    # every one of the 6 places the audit consumes them — measured as
    # the dominant cost of this all-small-tables query. The cut
    # truncates the lineage to the materialized rows (deterministic:
    # both rankers tie-break on doc_id). The bm25 tf cache stays a
    # cache — it is consumed only inside lex's one materialization —
    # and releases through the handle below.
    lex = cut(
        bm25_search(
            corpus.filter(qfilter).select(
                F.col("doc_id").alias("query_id"), "text"
            ),
            idx,
            k=20,
        ).select("query_id", "doc_id", "rank")
    )
    dense = cut(
        cosine_top_k(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            corpus.filter(qfilter).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            k=20,
            exact_fold=True,
        )
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    )
    hybrid = hybrid_rrf(lex, dense, k=10, rrf_k=_RRF_K).select(
        "query_id", "doc_id", "rank"
    )
    runs = (
        lex.select(F.lit("bm25").alias("system"), "query_id", "doc_id", "rank")
        .unionByName(
            dense.select(
                F.lit("dense").alias("system"), "query_id", "doc_id", "rank"
            )
        )
        .unionByName(
            hybrid.select(
                F.lit("hybrid").alias("system"), "query_id", "doc_id", "rank"
            )
        )
    )
    truth = dense.filter(F.col("rank") <= 10).select(
        "query_id", "doc_id", (11 - F.col("rank")).cast("bigint").alias("rel")
    )
    out = retrieval_quality_audit(runs, truth, k=10)
    return release_after(out, idx.cache_handle)


@query(
    "corpus_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT doc_id, md5(text) AS h, CAST(len({_TOKS}) AS BIGINT) AS t
        FROM documents
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 5 = 0 THEN text || ' EXTRA' ELSE text END) AS h,
               CAST(len(string_split_regex(trim(
                   CASE WHEN doc_id % 5 = 0 THEN text || ' EXTRA' ELSE text END
               ), '\\s+')) AS BIGINT) AS t
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000, md5(text), CAST(len({_TOKS}) AS BIGINT)
        FROM documents WHERE doc_id < 30
    ),
    j AS (
        SELECT CASE WHEN o.h IS NULL THEN 'added'
                    WHEN n.h IS NULL THEN 'removed'
                    WHEN o.h = n.h THEN 'unchanged'
                    ELSE 'changed' END AS status,
               COALESCE(o.t, 0) AS t_old,
               COALESCE(n.t, 0) AS t_new
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t_old) AS BIGINT) AS tokens_old,
           CAST(SUM(t_new) AS BIGINT) AS tokens_new
    FROM j GROUP BY status
    """,
    description="release diff between two corpus snapshots - the "
    "change summary a dataset release note ships and the promotion "
    "sanity gate a daily pipeline checks (an unexpected removed spike "
    "is upstream loss): added/removed/changed/unchanged with doc and "
    "token deltas, change detection on md5(text) so fixed-width "
    "hashes move, never text; one full-outer id join + a 4-group "
    "aggregate. The fixture derives snapshot v2 deterministically "
    "(drops, mutations, additions) so both engines replay it exactly",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.changeset import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" EXTRA"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return corpus_diff(docs, v2)


@query(
    "multimodal_bmp_features",
    # Same closed-form raster contract as multimodal_png_features: the
    # payloads are REAL BMPs (bottom-up rows, BGR channels, 4-byte row
    # padding), and a wrong layout pass would shift every decoded stat.
    # width 15 deliberately forces a non-zero row pad.
    oracle="""
    WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 64),
    px AS (
        SELECT media_id, 1 + ((media_id + 3*x.i + 7*y.i + c.i) % 127) AS b
        FROM ids, range(0, 15) x(i), range(0, 8) y(i), range(0, 3) c(i)
    )
    SELECT media_id,
           CAST(SUM(b) AS DOUBLE) / COUNT(*) AS byte_mean,
           CAST(COUNT(DISTINCT b) AS DOUBLE) / 256.0 AS byte_entropy_proxy,
           CAST(ceil(COUNT(*) / 64.0) AS BIGINT) AS n_frames_sampled
    FROM px GROUP BY media_id
    """,
    description="a REAL uncompressed-DIB corpus through the codec "
    "hook: stdlib-struct BMP decode (bottom-up row order, BGR "
    "channels, 4-byte row padding - width 15 forces a non-zero pad) "
    "feeds the same Arrow-batched feature extractor, decoded-raster "
    "stats replayed closed-form by SQL - the third real image codec "
    "beside PPM and PNG",
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import attach_bmp_media

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    feats = extract_media_features(attach_bmp_media(docs, width=15, height=8))
    return feats.select(
        "media_id", "byte_mean", "byte_entropy_proxy", "n_frames_sampled"
    )


@query(
    "dedup_prefix_jaccard_join",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
    ),
    aug AS (
        SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id + 100000, text || ' EXTRA' FROM corpus WHERE doc_id < 60
    ),
    shx AS (SELECT doc_id, {_SH3} AS sh FROM aug),
    sh2 AS (
        SELECT doc_id, sh, list_sort(sh) AS ssort, CAST(len(sh) AS BIGINT) AS sz
        FROM shx WHERE len(sh) > 0
    ),
    pre AS (
        SELECT doc_id,
               unnest(ssort[1:CAST(sz - ceil(CAST(0.5 AS DOUBLE) * sz) + 1 AS INT)])
                 AS shingle
        FROM sh2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.id1, c.id2,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
    FROM cand c
    JOIN sh2 x ON x.doc_id = c.id1
    JOIN sh2 y ON y.doc_id = c.id2
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.5
    """,
    description="exact-RECALL similarity join via prefix filtering "
    "(AllPairs): J(A,B) >= tau forces a collision inside the first "
    "|S|-ceil(tau*|S|)+1 lexicographically-sorted shingles, so "
    "joining only prefixes finds EVERY qualifying pair - no LSH miss "
    "probability - while tau prunes the join volume (tau=0.9 indexes "
    "~10% of each set). The complement of the MinHash tier; "
    "dedup_lsh_quality_audit is the measurement that picks between "
    "them. Equality-to-exhaustive-ground-truth pinned in pytest; the "
    "perturbed-copy fixture plants 60 guaranteed near-dup pairs",
)
def dedup_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id", "text")
    aug = corpus.unionByName(
        corpus.filter(F.col("doc_id") < 60).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" EXTRA")).alias("text"),
        )
    )
    return prefix_filter_jaccard_pairs(aug, threshold=0.5, n=3)


@query(
    "multimodal_jpeg_features",
    # Closed-form raster contract like the PNG/BMP twins, with a twist
    # that makes a LOSSY codec oracle-able: the payloads are real
    # baseline JPEGs (Annex-K Huffman entropy coding, zigzag, dequant,
    # IDCT all run on every decode), but every 8x8 block is constant
    # and the quantization table is a flat power of two, so the
    # round-trip is bit-exact (a constant block has only a DC
    # coefficient, which quant=8 divides evenly). 24x16 -> 3x2 blocks,
    # each contributing 8*8*3 = 192 identical raster bytes.
    oracle="""
    WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 64),
    px AS (
        SELECT media_id, 1 + ((media_id + 3*bx.i + 7*by.i) % 127) AS b
        FROM ids, range(0, 3) bx(i), range(0, 2) by(i)
    )
    SELECT media_id,
           CAST(SUM(b) AS DOUBLE) / COUNT(*) AS byte_mean,
           CAST(COUNT(DISTINCT b) AS DOUBLE) / 256.0 AS byte_entropy_proxy,
           CAST(ceil(COUNT(*) * 192 / 64.0) AS BIGINT) AS n_frames_sampled
    FROM px GROUP BY media_id
    """,
    description="a REAL baseline-JPEG corpus through the codec hook: "
    "pure stdlib+numpy entropy decode (Annex-K Huffman tables, byte "
    "unstuffing, DC prediction, zigzag, dequant, orthonormal IDCT) "
    "feeds the same Arrow-batched feature extractor; block-constant "
    "fixtures with a flat power-of-two quant table make the lossy "
    "round-trip bit-exact, so the decoded-raster stats replay "
    "closed-form in SQL - the fourth real image codec beside PPM, "
    "PNG and BMP",
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.multimodal import attach_jpeg_media

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    feats = extract_media_features(attach_jpeg_media(docs, width=24, height=16))
    return feats.select(
        "media_id", "byte_mean", "byte_entropy_proxy", "n_frames_sampled"
    )


#: Shared CTE block for the bigram-LM oracles: reference slice (even-id
#: English documents), transition extraction by list slicing, add-1
#: model tables, corpus transition scoring — replays operators/lm.py
#: digit-for-digit (ln runs in DuckDB libm == Python libm; the Spark
#: side computes its logs in an Arrow batch for exactly this reason).
_LM_CTES = """
    WITH rt AS (
        SELECT string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE lang = 'en' AND doc_id % 2 = 0
    ),
    tr AS (
        SELECT unnest(toks[1:len(toks)-1]) AS prev,
               unnest(toks[2:len(toks)]) AS tok
        FROM rt
    ),
    voc AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT unnest(toks) AS tok FROM rt)
    ),
    big AS (
        SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY prev, tok
    ),
    ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS c_prev FROM big GROUP BY prev),
    bw AS (
        SELECT prev, tok,
               ln((c + CAST(1.0 AS DOUBLE)) / (c_prev + CAST(1.0 AS DOUBLE) * v))
                 AS logp
        FROM big JOIN ctx USING (prev), voc
    ),
    cw AS (
        SELECT prev,
               ln(CAST(1.0 AS DOUBLE) / (c_prev + CAST(1.0 AS DOUBLE) * v))
                 AS logp_miss
        FROM ctx, voc
    ),
    st AS (
        SELECT ln(CAST(1.0 AS DOUBLE) / (0 + CAST(1.0 AS DOUBLE) * v))
                 AS logp_unseen
        FROM voc
    ),
    ct AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    ctr AS (
        SELECT doc_id,
               unnest(toks[1:len(toks)-1]) AS prev,
               unnest(toks[2:len(toks)]) AS tok
        FROM ct
    ),
    scoredtr AS (
        SELECT ctr.doc_id,
               COALESCE(bw.logp, cw.logp_miss, (SELECT logp_unseen FROM st))
                 AS logp
        FROM ctr LEFT JOIN bw USING (prev, tok) LEFT JOIN cw USING (prev)
    ),
    xents AS (
        SELECT d.doc_id,
               CAST(COUNT(s.logp) AS BIGINT) AS n_transitions,
               CASE WHEN COUNT(s.logp) > 0 THEN
                   -CAST(SUM(CAST(s.logp AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(s.logp)
               END AS xent
        FROM documents d LEFT JOIN scoredtr s USING (doc_id)
        GROUP BY d.doc_id
    )
"""


@query(
    "text_lm_perplexity",
    oracle=_LM_CTES
    + """
    SELECT doc_id, n_transitions, xent FROM xents
    """,
    description="the CCNet/KenLM-style fluency gate, trained AND "
    "scored in-engine: a bigram LM with add-1 smoothing over a "
    "trusted reference slice (even-id English documents), every "
    "document scored by per-transition cross-entropy. The model is "
    "vocabulary-bounded (observed bigrams + context counts, both "
    "broadcast); transitions come from array slicing (no shuffle, no "
    "window); per-doc sums are DECIMAL partials; logs run in an "
    "Arrow batch with Python libm over model tables only. Lower "
    "xent = more reference-like; <2-token documents surface null",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.lm import lm_score_report

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    out = lm_score_report(docs, ref)
    return out.select(F.col("id").alias("doc_id"), "n_transitions", "xent")


@query(
    "text_lm_buckets",
    oracle=_LM_CTES
    + """
    SELECT doc_id, xent,
           CAST(ntile(3) OVER (
               ORDER BY CAST(xent IS NULL AS INT), xent, doc_id
           ) - 1 AS INTEGER) AS bucket
    FROM xents
    """,
    description="CCNet's head/middle/tail split over the LM scores: "
    "equal-frequency ntile buckets by cross-entropy (bucket 0 = most "
    "reference-like, null-xent documents deliberately last). The "
    "global sort is the small/audit spelling - at 100 TB derive "
    "boundaries from the percentile ladder instead (noted in the "
    "operator docstring)",
)
def text_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.lm import (
        lm_score_report,
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    out = perplexity_buckets(lm_score_report(docs, ref), n_buckets=3)
    return out.select(F.col("id").alias("doc_id"), "xent", "bucket")


@query(
    "text_lm_trigram",
    # The trigram oracle extends the bigram CTE block one order up:
    # p2 is the prepended-NULL token two back ((NULL ++ toks)[1:n-1]
    # zips positionally against the prev/tok slices, so a document
    # still yields exactly max(n-1, 0) scored transitions and the
    # second token's p2 is NULL — the backoff boundary). The scoring
    # COALESCE replays the engine's KenLM-shaped chain exactly; NULL
    # p2 never equality-matches the trigram tables in either engine.
    oracle=_LM_CTES
    + """
    , tr3 AS (
        SELECT * FROM (
            SELECT unnest((list_prepend(CAST(NULL AS VARCHAR), toks))
                              [1:len(toks)-1]) AS p2,
                   unnest(toks[1:len(toks)-1]) AS prev,
                   unnest(toks[2:len(toks)]) AS tok
            FROM rt
        ) WHERE p2 IS NOT NULL
    ),
    big3 AS (
        SELECT p2, prev, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tr3 GROUP BY p2, prev, tok
    ),
    ctx3 AS (
        SELECT p2, prev, CAST(SUM(c) AS BIGINT) AS c_ctx
        FROM big3 GROUP BY p2, prev
    ),
    tw AS (
        SELECT p2, prev, tok,
               ln((c + CAST(1.0 AS DOUBLE)) / (c_ctx + CAST(1.0 AS DOUBLE) * v))
                 AS logp3
        FROM big3 JOIN ctx3 USING (p2, prev), voc
    ),
    c3w AS (
        SELECT p2, prev,
               ln(CAST(1.0 AS DOUBLE) / (c_ctx + CAST(1.0 AS DOUBLE) * v))
                 AS logp_miss3
        FROM ctx3, voc
    ),
    ctr3 AS (
        SELECT doc_id,
               unnest((list_prepend(CAST(NULL AS VARCHAR), toks))
                          [1:len(toks)-1]) AS p2,
               unnest(toks[1:len(toks)-1]) AS prev,
               unnest(toks[2:len(toks)]) AS tok
        FROM ct
    ),
    scoredtr3 AS (
        SELECT ctr3.doc_id,
               COALESCE(tw.logp3, c3w.logp_miss3, bw.logp, cw.logp_miss,
                        (SELECT logp_unseen FROM st)) AS logp
        FROM ctr3
        LEFT JOIN tw ON tw.p2 = ctr3.p2 AND tw.prev = ctr3.prev
                    AND tw.tok = ctr3.tok
        LEFT JOIN c3w ON c3w.p2 = ctr3.p2 AND c3w.prev = ctr3.prev
        LEFT JOIN bw ON bw.prev = ctr3.prev AND bw.tok = ctr3.tok
        LEFT JOIN cw ON cw.prev = ctr3.prev
    ),
    xents3 AS (
        SELECT d.doc_id,
               CAST(COUNT(s.logp) AS BIGINT) AS n_transitions,
               CASE WHEN COUNT(s.logp) > 0 THEN
                   -CAST(SUM(CAST(s.logp AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(s.logp)
               END AS xent
        FROM documents d LEFT JOIN scoredtr3 s USING (doc_id)
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_transitions, xent FROM xents3
    """,
    description="the KenLM-shaped trigram fluency gate: the bigram LM "
    "plus a trigram head (observed-trigram + 2-token-context tables, "
    "both still vocabulary-bounded broadcasts), scored through the "
    "backoff chain logp3 -> logp_miss3 -> logp -> logp_miss -> "
    "logp_unseen. A document's second token backs off to the bigram "
    "tables by construction (null p2); fuzzed against a pure-Python "
    "Counter model in tests/test_fuzz.py",
)
def text_lm_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.lm import lm_score_report

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    out = lm_score_report(docs, ref, order=3)
    return out.select(F.col("id").alias("doc_id"), "n_transitions", "xent")


@query(
    "mix_dsir_select",
    oracle="""
    WITH rawt AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents)
    ),
    tgtt AS (
        SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents WHERE lang = 'en' AND doc_id % 3 = 0)
    ),
    rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_n FROM rawt GROUP BY bucket),
    tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tgt_n FROM tgtt GROUP BY bucket),
    tot AS (
        SELECT (SELECT CAST(SUM(raw_n) AS BIGINT) FROM rc) AS raw_tot,
               (SELECT CAST(COALESCE(SUM(tgt_n), 0) AS BIGINT) FROM tc) AS tgt_tot
    ),
    lam AS (
        SELECT rc.bucket,
               ln((COALESCE(tc.tgt_n, 0) + CAST(1.0 AS DOUBLE))
                    / (tgt_tot + CAST(4096.0 AS DOUBLE)))
             - ln((rc.raw_n + CAST(1.0 AS DOUBLE))
                    / (raw_tot + CAST(4096.0 AS DOUBLE))) AS lam
        FROM rc LEFT JOIN tc USING (bucket), tot
    ),
    sums AS (
        SELECT rawt.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(lam.lam AS DECIMAL(38,12))) AS DOUBLE) AS log_weight
        FROM rawt JOIN lam USING (bucket)
        GROUP BY rawt.doc_id
    )
    SELECT doc_id, n_tokens, log_weight,
           (ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id) <= 200) AS selected
    FROM sums
    """,
    description="Data Selection via Importance Resampling (DSIR): "
    "hashed-unigram bag-of-buckets distributions for a target domain "
    "sample (English, id%3=0) vs the raw corpus; every document "
    "scored with its log importance weight (sum of per-token bucket "
    "log-ratios, add-1 smoothed, DECIMAL partials) and the top 200 "
    "flagged by the deterministic hash-rank variant of the paper's "
    "Gumbel resampling. The classifier-free mixture shifter: logs "
    "run Arrow-batched over the 4096-row lambda table only",
)
def mix_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import dsir_importance

    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 3 == 0))
    scores = dsir_importance(docs, target, num_buckets=4096)
    w = W.orderBy(F.desc("log_weight"), "id")
    return scores.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "log_weight",
        (F.row_number().over(w) <= 200).alias("selected"),
    )


@query(
    "dedup_containment_join",
    # Exact recall holds under ANY global shingle order, so the oracle
    # replays the simpler lexicographic-prefix spelling while the
    # engine runs frequency-ordered prefixes — both emit exactly the
    # qualifying directed pairs (the same equivalence the Jaccard
    # prefix-join oracle relies on).
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
    ),
    aug AS (
        SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id + 100000,
               array_to_string(
                   (string_split_regex(trim(text), '\\s+'))
                       [1:greatest(len(string_split_regex(trim(text), '\\s+')) // 2, 1)],
                   ' ')
        FROM corpus WHERE doc_id < 60
    ),
    shx AS (SELECT doc_id, {_SH3} AS sh FROM aug),
    sh2 AS (
        SELECT doc_id, sh, list_sort(sh) AS ssort, CAST(len(sh) AS BIGINT) AS sz
        FROM shx WHERE len(sh) > 0
    ),
    pre AS (
        SELECT doc_id,
               unnest(ssort[1:CAST(sz - ceil(CAST(0.9 AS DOUBLE) * sz) + 1 AS INT)])
                 AS shingle
        FROM sh2
    ),
    idx AS (
        SELECT doc_id, unnest(sh) AS shingle FROM sh2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS contained_id, b.doc_id AS container_id
        FROM pre a JOIN idx b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    )
    SELECT c.contained_id, c.container_id,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh)
             AS containment
    FROM cand c
    JOIN sh2 x ON x.doc_id = c.contained_id
    JOIN sh2 y ON y.doc_id = c.container_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh) >= 0.9
    """,
    description="exact-recall shingle CONTAINMENT join (Broder's "
    "asymmetric twin of resemblance): every directed pair with "
    "|sh(A) inter sh(B)| / |sh(A)| >= 0.9 - the relation that catches "
    "a quote inside an article or a test document embedded in a "
    "training page, where Jaccard reads ~0. One-sided prefix "
    "filtering (only the contained side is prefix-cut, frequency-"
    "ordered; the container side indexes every shingle), exact "
    "verify. The fixture plants 60 half-documents whose shingle sets "
    "are true subsets of their sources",
)
def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import containment_pairs

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id", "text")
    halves = corpus.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1,"
            " greatest(size(split(trim(text), '\\\\s+')) DIV 2, 1)))"
        ).alias("text"),
    )
    return containment_pairs(
        corpus.unionByName(halves), threshold=0.9, n=3
    )


@query(
    "dedup_containment_audit",
    # Unlike the pair queries (whose RESULT is prefix-order-independent,
    # so their oracles replay the simpler lexicographic prefix), the
    # audit's candidate_rows depends on WHICH shingles land in each
    # prefix — so this oracle replays the engine's frequency-ordered
    # cut exactly: row_number over (df_global, shingle) per document.
    # Both engines compare strings by binary collation, so the order is
    # engine-portable.
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
    ),
    aug AS (
        SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id + 100000,
               array_to_string(
                   (string_split_regex(trim(text), '\\s+'))
                       [1:greatest(len(string_split_regex(trim(text), '\\s+')) // 2, 1)],
                   ' ')
        FROM corpus WHERE doc_id < 60
    ),
    shx AS (SELECT doc_id, {_SH3} AS sh FROM aug),
    sh2 AS (
        SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS sz
        FROM shx WHERE len(sh) > 0
    ),
    ex AS (SELECT doc_id, sz, unnest(sh) AS shingle FROM sh2),
    dfreq AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df_global
        FROM ex GROUP BY shingle
    ),
    ranked AS (
        SELECT ex.doc_id, ex.shingle,
               row_number() OVER (
                   PARTITION BY ex.doc_id ORDER BY d.df_global, ex.shingle
               ) AS rn,
               CAST(ex.sz - ceil(CAST(0.5 AS DOUBLE) * ex.sz) + 1 AS INT)
                 AS plen
        FROM ex JOIN dfreq d USING (shingle)
    ),
    p_cnt AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS p_n
        FROM ranked WHERE rn <= plen GROUP BY shingle
    ),
    est AS (
        SELECT CAST(SUM(p_n * df_global) AS BIGINT) AS cand_with_self,
               CAST(SUM(p_n) AS BIGINT) AS prefix_shingles
        FROM p_cnt JOIN dfreq USING (shingle)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(sz) AS BIGINT) AS index_shingles
        FROM sh2
    )
    SELECT n_docs, index_shingles, prefix_shingles,
           CAST(prefix_shingles AS DOUBLE) / index_shingles AS prefix_fraction,
           cand_with_self - prefix_shingles AS candidate_rows,
           CAST(cand_with_self - prefix_shingles AS DOUBLE) / n_docs
             AS candidates_per_doc
    FROM tot, est
    """,
    description="the containment join's runtime cost guard, run at "
    "tau=0.5 - the misuse regime it exists to expose: EXACT pre-"
    "distinct candidate join volume and prefix fraction from two "
    "vocab-sized aggregates (sum over shingles of prefix-count x "
    "index-count, self-matches removed), never materializing a "
    "candidate. The hot_buckets() discipline applied to the prefix-"
    "filter tier: measure the blow-up before paying for it, then "
    "route low thresholds to MinHash",
)
def dedup_containment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import containment_join_audit

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id", "text")
    halves = corpus.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1,"
            " greatest(size(split(trim(text), '\\\\s+')) DIV 2, 1)))"
        ).alias("text"),
    )
    return containment_join_audit(
        corpus.unionByName(halves), threshold=0.5, n=3
    )


@query(
    "dedup_prefix_join_audit",
    # Two-sided twin of dedup_containment_audit, same frequency-order
    # replay; candidate_rows = Σ p(s)·(p(s)−1)/2 over prefix counts.
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
    ),
    aug AS (
        SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id + 100000,
               array_to_string(
                   (string_split_regex(trim(text), '\\s+'))
                       [1:greatest(len(string_split_regex(trim(text), '\\s+')) // 2, 1)],
                   ' ')
        FROM corpus WHERE doc_id < 60
    ),
    shx AS (SELECT doc_id, {{sh3}} AS sh FROM aug),
    sh2 AS (
        SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS sz
        FROM shx WHERE len(sh) > 0
    ),
    ex AS (SELECT doc_id, sz, unnest(sh) AS shingle FROM sh2),
    dfreq AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df_global
        FROM ex GROUP BY shingle
    ),
    ranked AS (
        SELECT ex.doc_id, ex.shingle,
               row_number() OVER (
                   PARTITION BY ex.doc_id ORDER BY d.df_global, ex.shingle
               ) AS rn,
               CAST(ex.sz - ceil(CAST(0.5 AS DOUBLE) * ex.sz) + 1 AS INT)
                 AS plen
        FROM ex JOIN dfreq d USING (shingle)
    ),
    p_cnt AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS p_n
        FROM ranked WHERE rn <= plen GROUP BY shingle
    ),
    est AS (
        SELECT CAST(SUM(p_n * (p_n - 1)) // 2 AS BIGINT) AS candidate_rows,
               CAST(SUM(p_n) AS BIGINT) AS prefix_shingles
        FROM p_cnt
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(sz) AS BIGINT) AS index_shingles
        FROM sh2
    )
    SELECT n_docs, index_shingles, prefix_shingles,
           CAST(prefix_shingles AS DOUBLE) / index_shingles AS prefix_fraction,
           candidate_rows,
           CAST(candidate_rows AS DOUBLE) / n_docs AS candidates_per_doc
    FROM tot, est
    """.replace("{sh3}", _SH3),
    description="the Jaccard prefix join's runtime cost guard at "
    "tau=0.5 - the two-sided twin of dedup_containment_audit: the "
    "prefix x prefix self-join emits exactly sum over shingles of "
    "p(s)*(p(s)-1)/2 candidate rows, computed from ONE vocab-sized "
    "aggregate without materializing a candidate; measure the "
    "low-threshold blow-up on both join sides before paying for it",
)
def dedup_prefix_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import (
        prefix_jaccard_join_audit,
    )

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id", "text")
    halves = corpus.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1,"
            " greatest(size(split(trim(text), '\\\\s+')) DIV 2, 1)))"
        ).alias("text"),
    )
    return prefix_jaccard_join_audit(
        corpus.unionByName(halves), threshold=0.5, n=3
    )


@query(
    "sim_ivf_rebalance",
    oracle="""
    WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT 4)
    ),
    assigned AS (
        SELECT id, v, cell FROM (
            SELECT c.id, c.v, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    sizes AS (SELECT cell, COUNT(*) AS n FROM assigned GROUP BY cell),
    hot AS (SELECT cell FROM sizes WHERE n > 100),
    hot_rank AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) AS rk FROM hot),
    maxid AS (SELECT MAX(cell) AS m FROM cent),
    subs AS (
        SELECT a.cell AS old_cell,
               CASE WHEN a.rn2 = 1 THEN a.cell
                    ELSE CAST(m + hr.rk AS INTEGER) END AS new_cell,
               a.v AS centroid
        FROM (
            SELECT assigned.*,
                   ROW_NUMBER() OVER (PARTITION BY cell ORDER BY id) AS rn2
            FROM assigned SEMI JOIN hot USING (cell)
        ) a JOIN hot_rank hr ON a.cell = hr.cell, maxid
        WHERE a.rn2 <= 2
    ),
    moved AS (
        SELECT id, new_cell AS cell FROM (
            SELECT hm.id, s.new_cell,
                   ROW_NUMBER() OVER (PARTITION BY hm.id
                       ORDER BY list_cosine_similarity(hm.v, s.centroid) DESC,
                                s.new_cell) AS rn3
            FROM (SELECT assigned.* FROM assigned SEMI JOIN hot USING (cell)) hm
            JOIN subs s ON hm.cell = s.old_cell
        ) WHERE rn3 = 1
    ),
    cold AS (SELECT id, cell FROM assigned ANTI JOIN hot USING (cell))
    SELECT id AS vec_id, CAST(cell AS INTEGER) AS cell FROM cold
    UNION ALL
    SELECT id AS vec_id, CAST(cell AS INTEGER) AS cell FROM moved
    """,
    description="IVF index MAINTENANCE: split every over-cap cell in "
    "two (its two lowest-id members become sub-centroids - the sample-"
    "quantizer discipline, deterministic and refit-free), first child "
    "reuses the old cell id so cold partitions and probe layouts stay "
    "valid, second child appends past max_cell_id; only split cells' "
    "vectors re-assign. The day-2 answer to incremental-append skew "
    "(a hot topic or crawl burst fattening one cell until every probe "
    "that hits it scans the whole bulge). Oracle replays quantizer, "
    "hot detection, sub-centroid choice, id assignment and the "
    "re-assignment argmax digit-for-digit",
)
def sim_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_rebalance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(emb, nlist=4, quantizer="sample")
    new = ivf_rebalance(idx, max_cell_size=100)
    return new.assignments.select(
        F.col("id").alias("vec_id"), F.col("cell").cast("int").alias("cell")
    )


@query(
    "sim_ann_recall_audit",
    oracle=_IVF_CTES
    + f"""
    , assigned AS (
        SELECT id, v, cell FROM (
            SELECT c.id, c.v, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, cent.centroid) DESC,
                                cent.cell) AS pr
            FROM q CROSS JOIN cent
        ) WHERE pr <= 2
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.id) AS rank
            FROM probes p JOIN assigned a USING (cell)
        ) WHERE rank <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.id) AS rank
            FROM q CROSS JOIN c
        ) WHERE rank <= 5
    )
    SELECT CAST((SELECT COUNT(DISTINCT query_id) FROM q) AS BIGINT) AS n_queries,
           CAST(5 AS BIGINT) AS k,
           CAST(2 AS BIGINT) AS nprobe,
           CAST((SELECT COUNT(*) FROM approx SEMI JOIN exact
                 USING (query_id, neighbor_id)) AS BIGINT) AS hits,
           CAST((SELECT COUNT(*) FROM approx SEMI JOIN exact
                 USING (query_id, neighbor_id)) AS DOUBLE)
             / ((SELECT COUNT(DISTINCT query_id) FROM q) * 5) AS recall_at_k
    """,
    description="the ANN evaluation harness as a query - the IVF twin "
    "of dedup_lsh_quality_audit: exact brute-force top-5 vs the "
    "deterministic sample-quantizer IVF at nprobe=2 (deliberately "
    "tight so recall < 1 is observable), one row with hit count and "
    "recall@k. This is the measurement that picks nprobe/nlist before "
    "a deployment trusts the index; both paths replay digit-for-digit "
    "so even the MISSES are oracle-attested",
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        cosine_top_k,
        ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = ivf_index(corpus, nlist=_IVF_NLIST, quantizer="sample")
    approx = ivf_search(queries, idx, k=5, nprobe=2, exact_fold=True).select(
        "query_id", "neighbor_id"
    )
    exact = cosine_top_k(corpus, queries, k=5, exact_fold=True).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    nq = queries.agg(F.count_distinct("vec_id").cast("bigint").alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            F.lit(5).cast("bigint").alias("k"),
            F.lit(2).cast("bigint").alias("nprobe"),
            "hits",
            (F.col("hits").cast("double") / (F.col("n_queries") * 5)).alias(
                "recall_at_k"
            ),
        )
    )


@query(
    "sim_hashed_embeddings",
    # Norm parity note: bucket weights are ±1 sums (exact small
    # integers in double), so their squares sum EXACTLY in any order —
    # DuckDB's unordered SUM(w*w) equals Spark's ordered fold without
    # the usual DECIMAL-partial machinery.
    oracle="""
    WITH inst AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
               CASE WHEN ('0x' || substr(md5(tok), 16, 1))::BIGINT % 2 = 0
                    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
               END AS s
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents)
    ),
    sums AS (
        SELECT doc_id, bucket, CAST(SUM(s) AS DOUBLE) AS w
        FROM inst GROUP BY doc_id, bucket
    ),
    grid AS (
        SELECT d.doc_id, r.i AS bucket
        FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) r(i)
    ),
    raw AS (
        SELECT g.doc_id, g.bucket, COALESCE(s.w, CAST(0.0 AS DOUBLE)) AS w
        FROM grid g LEFT JOIN sums s USING (doc_id, bucket)
    ),
    norms AS (
        SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM raw GROUP BY doc_id
    )
    SELECT r.doc_id, CAST(r.bucket AS INTEGER) AS bucket,
           CASE WHEN n.norm > 0 THEN r.w / n.norm ELSE r.w END AS component,
           n.norm
    FROM raw r JOIN norms n USING (doc_id)
    """,
    description="feature-hashing text embeddings (the hashing trick): "
    "every token md5-hashes to one of 64 buckets with a +-1 sign from "
    "an independent hash bit, per-doc bucket sums L2-normalize into a "
    "dense unit vector - the model-free bridge from the text tier to "
    "the ANN/SemDeDup/sign-LSH machinery when no learned encoder is "
    "affordable at 100 TB. Pure native expressions end to end (one "
    "aggregate, map_from_entries densification, ordered normalization "
    "fold); emitted as exploded (doc, bucket, component) scalars so "
    "every vector component is value-hashed",
)
def sim_hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import hashed_embeddings

    docs = load_table(spark, sf_dir, "documents")
    emb = hashed_embeddings(docs, dim=64)
    return emb.select(
        F.col("id").alias("doc_id"), F.posexplode("embedding"), "norm"
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("bucket"),
        F.col("col").alias("component"),
        "norm",
    )


#: Unigram-LM tokenizer geometry — ONE definition shared by the Spark
#: queries and the oracle chain builder (operators/unigram.py holds
#: the operator; the corpus' longest word is 8 chars, so the cap
#: excludes nothing at any test SF).
_UNI_W = 8
_UNI_L = 4
_UNI_V = 48
_UNI_EM = 2
_UNI_MIN = 2


def _unigram_chain() -> str:
    """DuckDB replica of :func:`~auraverse_etl_pipeline_spark.operators.
    unigram.unigram_train` up to the pruned final model CTE ``mfin``:
    seed substring counts → ``_UNI_EM`` hard-EM rounds (enumerated-
    composition Viterbi + add-one character floor) → vocab prune.
    The composition table embeds as a VALUES literal generated by the
    SAME ``compositions()`` call the Spark operator uses; every score
    is a left fold in part order (``list_prepend(0.0, ...)`` replays
    Spark's 0.0-init fold), ties break (score DESC, comp DESC), and
    ``ln`` runs only over model-sized tables (DuckDB ln ==
    Python-libm ln, see operators/classifier.py)."""
    from auraverse_etl_pipeline_spark.operators.unigram import compositions

    comp_vals = ",\n               ".join(
        f"({wlen}, '{comp}', {k}, {s}, {l})"
        for wlen, comp, k, s, l in compositions(_UNI_W, _UNI_L)
    )
    parts = [
        f"""
    WITH words AS MATERIALIZED (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(len(w) AS INT) AS wlen
        FROM (SELECT unnest({_TOKS}) AS w FROM documents)
        WHERE w <> '' AND len(w) <= {_UNI_W} GROUP BY w
    ),
    comps(wlen, comp, k, s, l) AS MATERIALIZED (
        VALUES {comp_vals}
    ),
    pw AS MATERIALIZED (
        SELECT w.word, w.freq, w.wlen, c.comp, c.k,
               substr(w.word, c.s, c.l) AS piece
        FROM words w JOIN comps c USING (wlen)
    ),
    ch AS MATERIALIZED (
        SELECT DISTINCT unnest(string_split(word, '')) AS piece FROM words
    ),
    sub AS (
        SELECT substr(word, ss.s, ll.l) AS piece, freq
        FROM words, range(1, {_UNI_W} + 1) ss(s), range(1, {_UNI_L} + 1) ll(l)
        WHERE ss.s + ll.l - 1 <= wlen
    ),
    sc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece),
    m0c AS (SELECT piece, cnt FROM sc
            WHERE len(piece) = 1 OR cnt >= {_UNI_MIN}),
    m0t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM m0c),
    m0 AS MATERIALIZED (
        SELECT piece, cnt, ln(CAST(cnt AS DOUBLE)) - ln(CAST(tot AS DOUBLE)) AS logp
        FROM m0c, m0t
    )"""
    ]
    for r in range(1, _UNI_EM + 1):
        parts.append(
            f""",
    s{r} AS (
        SELECT p.word, p.freq, p.wlen, p.comp, p.k, p.piece, m.logp
        FROM pw p JOIN m{r - 1} m USING (piece)
    ),
    a{r} AS (
        SELECT word, freq, wlen, comp,
               list_reduce(list_prepend(0.0, list(logp ORDER BY k)),
                           (a, b) -> a + b) AS score,
               string_agg(piece, ' ' ORDER BY k) AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_pieces
        FROM s{r} GROUP BY word, freq, wlen, comp
        HAVING COUNT(*) = len(string_split(comp, ','))
    ),
    v{r} AS MATERIALIZED (
        SELECT word, freq, wlen, seg, n_pieces, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY word
                          ORDER BY score DESC, comp DESC) AS rn
            FROM a{r}
        ) WHERE rn = 1
    ),
    uc{r} AS (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS u
        FROM (SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM v{r})
        GROUP BY piece
    ),
    mc{r} AS (
        SELECT COALESCE(u.piece, c.piece) AS piece,
               CAST(COALESCE(u.u, 0)
                    + CASE WHEN c.piece IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS cnt
        FROM uc{r} u FULL JOIN ch c ON u.piece = c.piece
    ),
    mt{r} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM mc{r}),
    m{r} AS MATERIALIZED (
        SELECT piece, cnt, ln(CAST(cnt AS DOUBLE)) - ln(CAST(tot AS DOUBLE)) AS logp
        FROM mc{r}, mt{r}
    )"""
        )
    parts.append(
        f""",
    chn AS (SELECT CAST(COUNT(*) AS INT) AS n_chars FROM m{_UNI_EM}
            WHERE len(piece) = 1),
    mult AS (
        SELECT piece, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
        FROM m{_UNI_EM} WHERE len(piece) > 1
    ),
    keptc AS (
        SELECT piece, cnt FROM m{_UNI_EM} WHERE len(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM mult, chn
        WHERE rk <= greatest({_UNI_V} - n_chars, 0)
    ),
    kt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM keptc),
    mfin AS MATERIALIZED (
        SELECT piece, cnt, ln(CAST(cnt AS DOUBLE)) - ln(CAST(tot AS DOUBLE)) AS logp
        FROM keptc, kt
    )"""
    )
    return "".join(parts)


def _unigram_encode_oracle() -> str:
    """Encode oracle: the training chain + one more composition-Viterbi
    under the pruned model + the per-document digest (piece count, md5
    of the in-order piece stream, fixed-point total score — the BPE
    encode contract plus the score)."""
    from auraverse_etl_pipeline_spark.operators.unigram import UNIGRAM_FIXED_POINT

    fx = repr(UNIGRAM_FIXED_POINT)
    return (
        _unigram_chain()
        + f""",
    se AS (
        SELECT p.word, p.freq, p.wlen, p.comp, p.k, p.piece, m.logp
        FROM pw p JOIN mfin m USING (piece)
    ),
    ae AS (
        SELECT word, wlen, comp,
               list_reduce(list_prepend(0.0, list(logp ORDER BY k)),
                           (a, b) -> a + b) AS score,
               string_agg(piece, ' ' ORDER BY k) AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_pieces
        FROM se GROUP BY word, wlen, comp
        HAVING COUNT(*) = len(string_split(comp, ','))
    ),
    ve AS MATERIALIZED (
        SELECT word, seg, n_pieces, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY word
                          ORDER BY score DESC, comp DESC) AS rn
            FROM ae
        ) WHERE rn = 1
    ),
    alltok AS (
        SELECT doc_id, u.pos AS tpos, u.tok
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKS}) + 1),
                            i -> {{'pos': i, 'tok': ({_TOKS})[i]}})) AS u
              FROM documents) t(doc_id, u)
        WHERE u.tok <> ''
    )
    SELECT a.doc_id,
           CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces,
           md5(string_agg(v.seg, ' ' ORDER BY a.tpos)) AS pieces_md5,
           CAST(SUM(CAST(floor(v.score * {fx}) AS BIGINT)) AS BIGINT) AS logp_fx
    FROM alltok a JOIN ve v ON a.tok = v.word
    GROUP BY a.doc_id
    """
    )


@query(
    "text_unigram_train",
    oracle=_unigram_chain() + "\n    SELECT piece, cnt, logp FROM mfin",
    description="unigram-LM (SentencePiece-style) tokenizer training "
    "IN the engine - the second tokenizer family next to BPE and the "
    "default for modern LLM vocabularies (T5/Llama/Gemma): seed "
    "substring inventory, then deterministic HARD-EM (Viterbi-EM, a "
    "SentencePiece trainer mode) rounds spelled as ENUMERATED "
    "segmentation compositions - a word of length <= 8 has <= 108 "
    "segmentations into pieces <= 4, so each E-step is ONE declarative "
    "plan (words x broadcast composition literal -> substring parts -> "
    "model join -> completeness check + ordered fold -> max_by), zero "
    "driver iteration - then add-one character-floor recounts, and a "
    "prune to the target vocab keeping all single chars. ONE corpus "
    "scan builds the word vocabulary; everything after is vocabulary/"
    "model-bounded. ln only over model-sized tables via the Python-"
    "libm pandas_udf; DP scores are fixed-order folds; ties break "
    "(score DESC, comp DESC) - DuckDB replays seed, both EM rounds and "
    "the prune digit-for-digit from an unrolled MATERIALIZED CTE chain "
    "generated from the same composition table",
)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.unigram import unigram_train

    docs = load_table(spark, sf_dir, "documents")
    return unigram_train(
        docs,
        vocab_size=_UNI_V,
        em_iters=_UNI_EM,
        max_piece_len=_UNI_L,
        max_word_len=_UNI_W,
        min_count=_UNI_MIN,
    )


@query(
    "text_unigram_encode",
    oracle=_unigram_encode_oracle(),
    description="corpus tokenization with the trained unigram-LM "
    "model, oracle-gated end-to-end: the composition-Viterbi runs once "
    "more over the DISTINCT-word table under the pruned vocabulary, "
    "then the corpus-sized work is one token explode joined to the "
    "per-word segmentations (fixed-width rows; the planner picks "
    "broadcast vs shuffle - the segmentation table is vocabulary-"
    "sized). Compares per-document piece count, the md5 of the "
    "in-order piece stream (the BPE-encode contract) AND the total "
    "segmentation log-probability as an order-independent fixed-point "
    "sum (floor(score*2^40) per word occurrence, summed exactly)",
)
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    model = unigram_train(
        docs,
        vocab_size=_UNI_V,
        em_iters=_UNI_EM,
        max_piece_len=_UNI_L,
        max_word_len=_UNI_W,
        min_count=_UNI_MIN,
    )
    out = unigram_encode(
        docs, model, max_piece_len=_UNI_L, max_word_len=_UNI_W
    )
    return out.select(F.col("id").alias("doc_id"), "n_pieces", "pieces_md5", "logp_fx")


#: Synthetic crawl-metadata URI — the fixture has no URL column, so the
#: WARC staging derives one registrable domain per source tag. The
#: doc_id%4 variants exercise the public-suffix-list matcher end to
#: end: a plain gTLD host, a ``co.uk`` host WITH an explicit port (the
#: port-strip rule), a ``com.au`` host, and a 3-label-rule
#: ``k12.ma.us`` host. The Spark twin is :func:`_domain_uri`; the
#: oracle-parity gate is the sync check between the two spellings.
_DOMAIN_URI_SQL = (
    "CASE CAST(doc_id % 4 AS INTEGER)"
    " WHEN 0 THEN 'http://docs.' || source || '.net/doc/' || CAST(doc_id AS VARCHAR)"
    " WHEN 1 THEN 'http://www.' || source || '.co.uk:8080/doc/' || CAST(doc_id AS VARCHAR)"
    " WHEN 2 THEN 'https://' || source || '.com.au/doc/' || CAST(doc_id AS VARCHAR)"
    " ELSE 'http://media.' || source || '.k12.ma.us/doc/' || CAST(doc_id AS VARCHAR)"
    " END"
)


def _domain_uri(id_col: str = "doc_id", source_col: str = "source") -> Column:
    """Spark twin of ``_DOMAIN_URI_SQL``."""
    sid = F.col(id_col).cast("string")
    src = F.col(source_col)
    m = F.col(id_col) % 4
    return (
        F.when(m == 0, F.concat(F.lit("http://docs."), src, F.lit(".net/doc/"), sid))
        .when(m == 1, F.concat(F.lit("http://www."), src, F.lit(".co.uk:8080/doc/"), sid))
        .when(m == 2, F.concat(F.lit("https://"), src, F.lit(".com.au/doc/"), sid))
        .otherwise(F.concat(F.lit("http://media."), src, F.lit(".k12.ma.us/doc/"), sid))
    )


def _domain_sql_expr(uri_sql: str) -> str:
    from auraverse_etl_pipeline_spark.functions.psl import registrable_domain_sql

    return registrable_domain_sql(uri_sql)


def _domain_card_oracle() -> str:
    """DuckDB replica of the WARC-staged domain card: staging +
    re-ingestion replay as identity (prose corpus — the crawl-funnel
    attestation pattern), the registrable-domain regexes run over the
    same synthesized URI, flags mirror the funnel's g/flag CTEs, and
    the quartiles are the cumulative-histogram percentile_disc."""
    from auraverse_etl_pipeline_spark.operators.quality import gopher_keep_sql

    domain = _domain_sql_expr(_DOMAIN_URI_SQL)
    return f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, text, {domain} AS domain FROM documents
    ),
    canon AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
    g AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS mwl,
               CAST(len(list_intersect(list_distinct({_TOKS}), {_EN_LIST})) AS BIGINT) AS sw,
               {_LANG_CASE} AS guessed
        FROM d
    ),
    flags AS MATERIALIZED (
        SELECT d.domain, g.n_words AS n_tokens,
               d.doc_id = c.keep_id AS canonical,
               {gopher_keep_sql("g.n_words", "g.mwl", "g.sw")} AS gopher,
               g.guessed <> 'und' AS lang_ok
        FROM d JOIN canon c ON md5(d.text) = c.h JOIN g USING (doc_id)
    ),
    base AS (
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN NOT canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               CAST(SUM(CASE WHEN gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
               CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok
        FROM flags GROUP BY domain
    ),
    hist AS (
        SELECT domain, n_tokens, CAST(COUNT(*) AS BIGINT) AS c
        FROM flags GROUP BY domain, n_tokens
    ),
    cum AS (
        SELECT domain, n_tokens,
               SUM(c) OVER (PARTITION BY domain ORDER BY n_tokens) AS cum,
               SUM(c) OVER (PARTITION BY domain) AS tot
        FROM hist
    ),
    quarts AS (
        SELECT domain,
               MIN(CASE WHEN cum * 4 >= tot THEN n_tokens END) AS tok_q25,
               MIN(CASE WHEN cum * 2 >= tot THEN n_tokens END) AS tok_q50,
               MIN(CASE WHEN cum * 4 >= tot * 3 THEN n_tokens END) AS tok_q75
        FROM cum GROUP BY domain
    )
    SELECT b.domain, b.n_docs, b.n_dup,
           CAST(b.n_dup AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS dup_rate,
           b.n_gopher,
           CAST(b.n_gopher AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS gopher_rate,
           b.n_lang_ok,
           CAST(b.n_lang_ok AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS lang_ok_rate,
           q.tok_q25, q.tok_q50, q.tok_q75
    FROM base b JOIN quarts q USING (domain)
    """


@query(
    "corpus_domain_card",
    oracle=_domain_card_oracle(),
    description="per-registrable-domain curation card over the CRAWL "
    "METADATA - the RefinedWeb/C4-style stage that decides domain-"
    "level keep/drop before any document-level gate runs: documents "
    "stage into real WARC files with per-source target URIs, re-ingest "
    "through the WARC parser WITH the WARC-Target-URI column, the "
    "registrable domain extracts under the committed public-suffix-"
    "list snapshot (functions/psl.py - lowercased host, userinfo/port "
    "strip, longest-matching-suffix as an InSet probe, map-side, no "
    "join; co.uk/com.au/k12.ma.us fixtures exercise 2- and 3-label "
    "rules and the port strip), then ONE corpus scan computes fixed-"
    "width "
    "(domain, n_tokens, canonical, gopher, lang_ok) flag rows and the "
    "card aggregates are domain-bounded: doc counts, corpus-global "
    "exact-dup attribution, Gopher and lang-ID pass rates, exact "
    "token-count quartiles from one cumulative histogram per domain "
    "(the percentile-ladder discipline). md5 canonical join shuffles "
    "hashes, never text",
)
def corpus_domain_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.ingest.warc import (
        documents_to_warc,
        warc_documents,
    )
    from auraverse_etl_pipeline_spark.operators.quality import domain_card

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _domain_uri().alias("uri")
    )
    files = documents_to_warc(docs, gzip=True, uri_col="uri")
    crawl = warc_documents(files, with_uri=True)
    return domain_card(crawl)


#: Blocklist fixture: real fixture domains across suffix classes (a
#: gTLD, a co.uk multi-label, a 3-label k12.ma.us) + one absent entry
#: (the list may name domains the crawl never saw). Shared
#: Spark/oracle.
#: (suffix class per source is doc_id%4 == N%4 for srcN, so each entry
#: below names a domain that genuinely occurs in its class).
_BLOCKED_DOMAINS = [
    "src4.net",
    "src9.co.uk",
    "src6.com.au",
    "src7.k12.ma.us",
    "never-crawled.example",
]
# Single shared definition with the crawl funnel's gate stage — see
# operators/bloom.py (the oracle f-strings below bake these in at
# import, so the values must agree with what the funnel probes).
_BLOCK_BITS = BLOCKLIST_NUM_BITS
_BLOCK_HASHES = BLOCKLIST_NUM_HASHES


def _domain_blocklist_oracle() -> str:
    """Replica of the Bloom-gated domain blocklist funnel: the filter
    builds from the blocklist literal with the register-blocked
    word/mask arithmetic, every distinct domain probes it, flagged
    domains exact-verify against the list, survivors meet Gopher."""
    from auraverse_etl_pipeline_spark.operators.quality import gopher_keep_sql

    domain = _domain_sql_expr(_DOMAIN_URI_SQL)
    bl_vals = ", ".join(f"('{d}')" for d in sorted(_BLOCKED_DOMAINS))
    nw = _BLOCK_BITS // 63
    return f"""
    WITH bl(bdomain) AS (VALUES {bl_vals}),
    bloom AS MATERIALIZED (
        SELECT word, bit_or(m) AS bits FROM (
            SELECT {_bloom_word_sql("bdomain", nw)} AS word,
                   {_bloom_mask_sql("bdomain", _BLOCK_HASHES)} AS m
            FROM bl
        ) GROUP BY word
    ),
    g AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_words,
               length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}) AS mwl,
               CAST(len(list_intersect(list_distinct({_TOKS}), {_EN_LIST})) AS BIGINT) AS sw
        FROM documents
    ),
    d AS MATERIALIZED (
        SELECT {domain} AS domain,
               {gopher_keep_sql("g.n_words", "g.mwl", "g.sw")} AS gopher
        FROM documents JOIN g USING (doc_id)
    ),
    probe AS (
        SELECT domain,
               {_bloom_word_sql("domain", nw)} AS word,
               {_bloom_mask_sql("domain", _BLOCK_HASHES)} AS m
        FROM (SELECT DISTINCT domain FROM d)
    ),
    pv AS MATERIALIZED (
        SELECT p.domain,
               (COALESCE(b.bits, 0) & p.m) = p.m AS bloom_hit,
               ((COALESCE(b.bits, 0) & p.m) = p.m
                AND bl.bdomain IS NOT NULL) AS is_blocked
        FROM probe p LEFT JOIN bloom b USING (word)
        LEFT JOIN bl ON bl.bdomain = p.domain
    )
    SELECT d.domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pv.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_flagged,
           CAST(SUM(CASE WHEN pv.is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
           CAST(SUM(CASE WHEN NOT pv.is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN NOT pv.is_blocked AND d.gopher THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_gopher
    FROM d JOIN pv USING (domain)
    GROUP BY d.domain
    """


@query(
    "corpus_domain_blocklist",
    oracle=_domain_blocklist_oracle(),
    description="the domain-blocklist gate as a funnel stage, fed "
    "through the Bloom tier: the blocked-domain list (millions of "
    "entries at web scale - the filter is num_bits/63 broadcastable "
    "BIGINT words where the raw list is not) builds a register-blocked "
    "Bloom filter, every document's registrable domain probes it "
    "map-side, only FLAGGED domains hit the exact verify join (false "
    "positives cost a lookup, never a wrong drop - the bloom-"
    "decontaminate discipline), survivors pass the Gopher gate; "
    "per-domain report shows what the blocklist and the quality gate "
    "each cost. One corpus scan to fixed-width (domain, gopher) rows; "
    "the probe is distinct-domain-sized",
)
def corpus_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.quality import (
        domain_blocklist_funnel,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _domain_uri().alias("target_uri")
    )
    return domain_blocklist_funnel(
        docs,
        _BLOCKED_DOMAINS,
        num_bits=_BLOCK_BITS,
        num_hashes=_BLOCK_HASHES,
    )


@query(
    "sim_ivfpq_rebalance",
    oracle=_PQ_CTES
    + f"""
    , cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT 4)
    ),
    assigned AS (
        SELECT id, v, cell FROM (
            SELECT c.id, c.v, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    sizes AS (SELECT cell, COUNT(*) AS n FROM assigned GROUP BY cell),
    hot AS (SELECT cell FROM sizes WHERE n > 100),
    hot_rank AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) AS rk FROM hot),
    maxid AS (SELECT MAX(cell) AS m FROM cent),
    rsubs AS (
        SELECT a.cell AS old_cell,
               CASE WHEN a.rn2 = 1 THEN a.cell
                    ELSE CAST(m + hr.rk AS INTEGER) END AS new_cell,
               a.v AS centroid
        FROM (
            SELECT assigned.*,
                   ROW_NUMBER() OVER (PARTITION BY cell ORDER BY id) AS rn2
            FROM assigned SEMI JOIN hot USING (cell)
        ) a JOIN hot_rank hr ON a.cell = hr.cell, maxid
        WHERE a.rn2 <= 2
    ),
    moved AS (
        SELECT id, new_cell AS cell FROM (
            SELECT hm.id, s.new_cell,
                   ROW_NUMBER() OVER (PARTITION BY hm.id
                       ORDER BY list_cosine_similarity(hm.v, s.centroid) DESC,
                                s.new_cell) AS rn3
            FROM (SELECT assigned.* FROM assigned SEMI JOIN hot USING (cell)) hm
            JOIN rsubs s ON hm.cell = s.old_cell
        ) WHERE rn3 = 1
    ),
    cold AS (SELECT id, cell FROM assigned ANTI JOIN hot USING (cell)),
    nass AS MATERIALIZED (
        SELECT id, cell FROM cold UNION ALL SELECT id, cell FROM moved
    ),
    ncent AS MATERIALIZED (
        SELECT cell, centroid FROM cent ANTI JOIN hot USING (cell)
        UNION ALL
        SELECT new_cell AS cell, centroid FROM rsubs
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, nc.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, nc.centroid) DESC,
                                nc.cell) AS pr
            FROM q CROSS JOIN ncent nc
        ) WHERE pr <= 2
    ),
    lut AS (
        SELECT q2.query_id, cb.sub, cb.code, {_l2sq_sql("qsub", "centroid")} AS pd
        FROM (SELECT query_id, sr.sub,
                     qv[sr.sub*{_PQ_DSUB}+1 : sr.sub*{_PQ_DSUB}+{_PQ_DSUB}] AS qsub
              FROM q CROSS JOIN sr) q2
        JOIN cb ON q2.sub = cb.sub
    ),
    cand AS (
        SELECT p.query_id, a.id AS neighbor_id
        FROM probes p JOIN nass a USING (cell)
    ),
    adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(SUM(CAST(l.pd AS DECIMAL(38,12))) AS DOUBLE) AS approx_dist
        FROM cand cd
        JOIN enc e ON e.id = cd.neighbor_id
        JOIN lut l ON l.query_id = cd.query_id AND l.sub = e.sub AND l.code = e.code
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, l2_sq FROM (
        SELECT s.query_id, s.neighbor_id, {_l2sq_sql("q.qv", "c.v")} AS l2_sq,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {_l2sq_sql("q.qv", "c.v")} ASC, s.neighbor_id) AS rank
        FROM short s
        JOIN c ON c.id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rank <= 5
    """,
    description="IVF-PQ day-2 MAINTENANCE, the PQ twin of "
    "sim_ivf_rebalance: a skew-fattened coarse index is rebalanced "
    "(over-cap cells split on their two lowest-id members, cold cells "
    "and probe layouts untouched) and the COMPRESSED search path runs "
    "against the rebalanced index with the ORIGINAL PQ codes - codes "
    "encode the vectors themselves, not cell residuals, so maintenance "
    "never re-encodes a single vector (the operational property that "
    "makes nightly rebalance affordable at 100 TB: it moves "
    "assignment rows, m-small-int code rows stay immutable). Probe "
    "the rebalanced centroids, ADC over only probed cells' codes, "
    "shortlist, exact-L2^2 refine; oracle replays quantizer, hot "
    "split, re-assignment, probing, LUT sums and refinement "
    "digit-for-digit",
)
def sim_ivfpq_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_rebalance,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = ivf_index(corpus, nlist=4, quantizer="sample")
    new = ivf_rebalance(idx, max_cell_size=100)
    cb = pq_codebooks(corpus, m=_PQ_M, ksub=_PQ_KSUB, dim=64)
    codes = pq_encode(corpus, cb, m=_PQ_M, dim=64)
    out = ivfpq_search(
        queries, new, codes, cb, corpus=corpus,
        k=5, nprobe=2, shortlist=_PQ_SHORTLIST,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: WordPiece geometry (the BERT tokenizer family — third next to BPE
#: and unigram). Shared Spark/oracle.
_WP_MERGES = 6
_WP_WORD_LEN = 8


def _wordpiece_chain(m: int) -> str:
    """Unrolled DuckDB replay of :func:`~auraverse_etl_pipeline_spark.
    operators.bpe.wordpiece_train` — the BPE round template with the
    likelihood argmax: per round a symbol-count CTE joins into the
    pair counts and the winner maximizes cnt/(c_lhs·c_rhs) (one IEEE
    division of exact BIGINTs — identical in any engine), ties
    (score DESC, lhs, rhs)."""
    sql = [
        f"""
    WITH wf AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS}) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    s0 AS (
        SELECT word, freq, CAST(u.i AS BIGINT) AS i, u.sym
        FROM (SELECT word, freq,
                     unnest(list_transform(range(1, len(string_split(word, '')) + 1),
                            i -> {{'i': i, 'sym': string_split(word, '')[i]}})) AS u
              FROM wf) t(word, freq, u)
    )"""
    ]
    for r in range(m):
        sql.append(
            f""",
    p{r} AS MATERIALIZED (
        SELECT word, freq, i, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
        FROM s{r}
    ),
    u{r} AS (
        SELECT sym, CAST(SUM(freq) AS BIGINT) AS c FROM s{r} GROUP BY sym
    ),
    c{r} AS (
        SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM p{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    b{r} AS MATERIALIZED (
        SELECT lhs, rhs, cnt,
               CAST(cnt AS DOUBLE) / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))
                 AS score
        FROM (SELECT c.lhs, c.rhs, c.cnt, ul.c AS cl, ur.c AS cr
              FROM c{r} c
              JOIN u{r} ul ON ul.sym = c.lhs
              JOIN u{r} ur ON ur.sym = c.rhs)
        ORDER BY score DESC, lhs ASC, rhs ASC LIMIT 1
    ),
    m{r} AS (
        SELECT p.word, p.i FROM p{r} p, b{r} b
        WHERE p.sym = b.lhs AND p.nxt = b.rhs
    ),
    k{r} AS MATERIALIZED (
        SELECT word, i FROM (
            SELECT word, i, i - MIN(i) OVER (PARTITION BY word, isl) AS off
            FROM (SELECT word, i,
                         i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS isl
                  FROM m{r})
        ) WHERE off % 2 = 0
    ),
    s{r + 1} AS MATERIALIZED (
        SELECT p.word, p.freq,
               CAST(ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.i)
                    AS BIGINT) AS i,
               CASE WHEN k1.i IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
        FROM p{r} p
        LEFT JOIN k{r} k1 ON p.word = k1.word AND p.i = k1.i
        LEFT JOIN k{r} k2 ON p.word = k2.word AND p.i = k2.i + 1
        WHERE k2.i IS NULL
    )"""
        )
    return "".join(sql)


def _wordpiece_train_oracle(m: int) -> str:
    return (
        _wordpiece_chain(m)
        + "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS step, lhs, rhs, cnt AS pair_count, score FROM b{r}"
            for r in range(m)
        )
    )


@query(
    "text_wordpiece_train",
    oracle=_wordpiece_train_oracle(_WP_MERGES),
    description="WordPiece tokenizer training IN the engine - the "
    "THIRD tokenizer family (BERT's) next to BPE and unigram-LM: the "
    "BPE merge loop with the LIKELIHOOD criterion, each round merging "
    "the pair maximizing count(pair)/(count(lhs)*count(rhs)) - the "
    "merge that most increases a unigram LM's corpus likelihood - "
    "computed as ONE IEEE division of exact BIGINT counts (engine-"
    "portable arithmetic, no transcendentals), ties (score DESC, lhs, "
    "rhs). Same scale shape as BPE: one corpus scan, vocabulary-"
    "bounded rounds, one extra vocabulary-sized symbol-count "
    "aggregate per round, 1-row argmax to the driver; DuckDB replays "
    "every round digit-for-digit",
)
def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import wordpiece_train

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_train(docs, num_merges=_WP_MERGES)


def _wordpiece_encode_oracle(m: int) -> str:
    """Encode oracle: the training chain's merge results + the corpus
    alphabet form the vocabulary; per-word segmentation is maximal
    munch over the enumerated compositions (comp-key maximum ==
    longest-match with backtracking), then the per-document digest."""
    from auraverse_etl_pipeline_spark.operators.unigram import compositions

    comp_vals = ",\n               ".join(
        f"({wlen}, '{comp}', {k}, {s}, {l})"
        for wlen, comp, k, s, l in compositions(_WP_WORD_LEN, _WP_WORD_LEN)
    )
    vocab_union = "\n        UNION\n        ".join(
        f"SELECT lhs || rhs AS piece FROM b{r}" for r in range(m)
    )
    return (
        _wordpiece_chain(m)
        + f""",
    vocab AS MATERIALIZED (
        SELECT DISTINCT sym AS piece FROM s0
        UNION
        {vocab_union}
    ),
    wwords AS (
        SELECT word, CAST(len(string_split(word, '')) AS INT) AS wlen
        FROM wf WHERE len(string_split(word, '')) <= {_WP_WORD_LEN}
    ),
    wcomps(wlen, comp, k, s, l) AS MATERIALIZED (
        VALUES {comp_vals}
    ),
    wparts AS (
        SELECT w.word, c.comp, c.k, substr(w.word, c.s, c.l) AS piece
        FROM wwords w JOIN wcomps c USING (wlen)
    ),
    wpc AS (
        SELECT word, comp,
               string_agg(piece, ' ' ORDER BY k) AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_pieces
        FROM (SELECT wp2.* FROM wparts wp2 SEMI JOIN vocab ON wp2.piece = vocab.piece)
        GROUP BY word, comp
        HAVING COUNT(*) = len(string_split(comp, ','))
    ),
    wseg AS MATERIALIZED (
        SELECT word, seg, n_pieces FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY word ORDER BY comp DESC) AS rn
            FROM wpc
        ) WHERE rn = 1
    ),
    walltok AS (
        SELECT doc_id, u.pos AS tpos, u.tok
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKS}) + 1),
                            i -> {{'pos': i, 'tok': ({_TOKS})[i]}})) AS u
              FROM documents) t(doc_id, u)
        WHERE u.tok <> ''
    )
    SELECT a.doc_id,
           CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces,
           md5(string_agg(v.seg, ' ' ORDER BY a.tpos)) AS pieces_md5
    FROM walltok a JOIN wseg v ON a.tok = v.word
    GROUP BY a.doc_id
    """
    )


@query(
    "text_wordpiece_encode",
    oracle=_wordpiece_encode_oracle(_WP_MERGES),
    description="corpus tokenization with the trained WordPiece "
    "vocabulary (corpus alphabet + every merge result), oracle-gated "
    "end-to-end: per-word MAXIMAL MUNCH spelled over the enumerated "
    "composition table - the composition-key maximum among fully-in-"
    "vocabulary segmentations IS longest-match with backtracking "
    "(greedy HF WordPiece UNKs on greedy dead-ends; this variant "
    "degrades to shorter pieces instead - documented deviation, "
    "deterministic and engine-portable; single chars are always in "
    "vocabulary so every word segments). Compares per-document piece "
    "count AND the in-order piece-stream md5 (the tokenizer-encode "
    "digest contract)",
)
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import (
        wordpiece_encode,
        wordpiece_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = wordpiece_train(docs, num_merges=_WP_MERGES)
    out = wordpiece_encode(docs, merges, max_word_len=_WP_WORD_LEN)
    return out.select(F.col("id").alias("doc_id"), "n_pieces", "pieces_md5")


#: Training-objective transform geometry (operators/objectives.py).
_SC_LEN = 3
_SC_EVERY = 20
_FIM_MIN = 4

#: Engine-portable md5 draw: leading 60 bits mod m.
def _md5_mod_sql(key: str, mod: str) -> str:
    return f"('0x' || substr(md5({key}), 1, 15))::BIGINT % ({mod})"


def _objective_toks_sql() -> str:
    """Shared token-stream CTE (id, n_tokens, pos, tok)."""
    return f"""
    WITH toks AS (
        SELECT doc_id AS id, u.pos, u.tok
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKS}) + 1),
                            i -> {{'pos': i, 'tok': ({_TOKS})[i]}})) AS u
              FROM documents) t(doc_id, u)
        WHERE u.tok <> ''
    ),
    nt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY id)
    """


def _span_corruption_oracle() -> str:
    off = _md5_mod_sql(
        "CAST(id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)",
        str(_SC_EVERY - _SC_LEN + 1),
    )
    return (
        _objective_toks_sql()
        + f""",
    t2 AS MATERIALIZED (
        SELECT id, n_tokens, pos, tok,
               CAST((pos - 1) // {_SC_EVERY} AS BIGINT) AS blk
        FROM toks JOIN nt USING (id)
    ),
    t3 AS MATERIALIZED (
        SELECT *,
               ((blk + 1) * {_SC_EVERY} <= n_tokens) AS blk_ok,
               {off} AS off
        FROM t2
    ),
    t4 AS MATERIALIZED (
        SELECT *,
               (blk_ok AND pos - 1 - blk * {_SC_EVERY} >= off
                       AND pos - 1 - blk * {_SC_EVERY} < off + {_SC_LEN}) AS in_span,
               (blk_ok AND pos - 1 - blk * {_SC_EVERY} = off) AS span_first
        FROM t3
    ),
    inp AS (
        SELECT id,
               md5(string_agg(
                   CASE WHEN span_first THEN '<extra_id_' || blk || '>' ELSE tok END,
                   ' ' ORDER BY pos)) AS inputs_md5
        FROM t4 WHERE NOT in_span OR span_first GROUP BY id
    ),
    tgt_rows AS (
        SELECT id, pos * 2 + 1 AS opos, tok AS piece FROM t4 WHERE in_span
        UNION ALL
        SELECT id, pos * 2 AS opos, '<extra_id_' || blk || '>' AS piece
        FROM t4 WHERE span_first
    ),
    tgt AS (
        SELECT id, md5(string_agg(piece, ' ' ORDER BY opos)) AS targets_md5
        FROM tgt_rows GROUP BY id
    ),
    spans AS (
        SELECT id,
               CAST(SUM(CASE WHEN span_first THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN in_span THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        FROM t4 GROUP BY id
    )
    SELECT nt.id AS doc_id, nt.n_tokens, s.n_spans, s.n_masked,
           i.inputs_md5, COALESCE(g.targets_md5, '') AS targets_md5
    FROM nt JOIN spans s USING (id) JOIN inp i USING (id)
    LEFT JOIN tgt g USING (id)
    """
    )


@query(
    "text_span_corruption",
    oracle=_span_corruption_oracle(),
    description="T5-style masked-span denoising pairs built "
    "DETERMINISTICALLY in the engine - the training-objective "
    "transform tier (curated text -> model inputs): BLOCKED span "
    "placement masks one md5-offset span of 3 tokens per complete "
    "20-token block (15% corruption at mean span 3, the T5 defaults) "
    "- non-overlap holds BY CONSTRUCTION, so there is no sequential "
    "per-document rejection loop (the usual RNG sampler is hostile at "
    "100 TB), and the exact corruption replays in any engine, any "
    "partitioning, any run. Emits per-doc token/span/mask counts plus "
    "md5 digests of the sentinel-substituted INPUT stream and the "
    "sentinel-prefixed TARGET stream - the full encoder/decoder pair "
    "value-hashed. One token explode, codegen'd flag algebra, one "
    "ordered re-assembly per stream",
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.objectives import span_corruption

    docs = load_table(spark, sf_dir, "documents")
    out = span_corruption(docs, span_len=_SC_LEN, span_every=_SC_EVERY)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens", "n_spans", "n_masked", "inputs_md5", "targets_md5",
    )


def _fim_oracle() -> str:
    ra = _md5_mod_sql("CAST(id AS VARCHAR) || ':a'", "n_tokens - 2")
    rb = _md5_mod_sql("CAST(id AS VARCHAR) || ':b'", "n_tokens - 2")
    return (
        _objective_toks_sql()
        + f""",
    draws AS (
        SELECT id, n_tokens,
               CASE WHEN n_tokens >= {_FIM_MIN} THEN 1 + {ra} ELSE 0 END AS ra,
               CASE WHEN n_tokens >= {_FIM_MIN} THEN 1 + {rb} ELSE 0 END AS rb
        FROM nt
    ),
    cuts AS MATERIALIZED (
        SELECT id, n_tokens,
               least(ra, rb) AS cut_a,
               greatest(ra, rb)
                 + CASE WHEN ra = rb AND ra > 0 THEN 1 ELSE 0 END AS cut_b
        FROM draws
    ),
    pieces AS (
        SELECT t.id,
               CASE WHEN c.cut_b = 0 THEN 0
                    WHEN t.pos <= c.cut_a THEN 0
                    WHEN t.pos > c.cut_b THEN 1
                    ELSE 2 END AS region,
               CAST(t.pos AS BIGINT) AS k, t.tok AS piece
        FROM toks t JOIN cuts c USING (id)
        UNION ALL
        SELECT id, 0 AS region, CAST(0 AS BIGINT) AS k, '<PRE>' AS piece FROM cuts
        UNION ALL
        SELECT id, 1, 0, '<SUF>' FROM cuts WHERE cut_b > 0
        UNION ALL
        SELECT id, 2, 0, '<MID>' FROM cuts WHERE cut_b > 0
    ),
    dig AS (
        SELECT id, md5(string_agg(piece, ' ' ORDER BY region, k)) AS fim_md5
        FROM pieces GROUP BY id
    )
    SELECT c.id AS doc_id, c.n_tokens,
           CAST(c.cut_a AS BIGINT) AS cut_a, CAST(c.cut_b AS BIGINT) AS cut_b,
           d.fim_md5
    FROM cuts c JOIN dig d USING (id)
    """
    )


@query(
    "text_fim_transform",
    oracle=_fim_oracle(),
    description="fill-in-middle (PSM) reordering built "
    "DETERMINISTICALLY in the engine - the code-model training "
    "objective (Bavarian et al.): two md5-derived cuts split every "
    "document's token stream into prefix/middle/suffix and the "
    "emitted stream is <PRE> prefix <SUF> suffix <MID> middle, so the "
    "exact same transform replays in any engine with no RNG state to "
    "ship (the mixture-tier determinism contract); short documents "
    "pass through as <PRE>-prefixed streams. One token explode, one "
    "per-doc ordered re-assembly; cut positions + stream md5 all "
    "value-hashed",
)
def text_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.objectives import fim_transform

    docs = load_table(spark, sf_dir, "documents")
    out = fim_transform(docs, min_tokens=_FIM_MIN)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.col("cut_a").cast("bigint").alias("cut_a"),
        F.col("cut_b").cast("bigint").alias("cut_b"),
        "fim_md5",
    )


@query(
    "sim_contrastive_pairs",
    oracle=_minhash_oracle_sql(num_hashes=8, seed=42, threshold=0.5, labeled=True),
    description="contrastive training pairs for embedding models "
    "mined from the SAME MinHash-LSH pass as near-dup detection: "
    "band-collision candidates verifying at exact Jaccard >= 0.5 are "
    "'pos' anchor/positive pairs, candidates that collided but FAILED "
    "the verify are 'neg' - HARD negatives by construction (lexically "
    "close enough to share a band minimum, not duplicates; the band "
    "random negatives never sample). The SimCSE/E5-style mining "
    "recipe as one engine pass - a dedup run can emit its decisions "
    "AND the contrastive set from one scan, since the labeling "
    "replaces the filter on the identical plan. md5 base hash, fully "
    "oracle-gated including every label",
)
def sim_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import contrastive_pairs

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_pairs(
        docs, jaccard_threshold=0.5, n=3, hash_fn="md5", max_bucket_size=1000
    )


#: Messy-URL synthesis (the fixture has no URL column): five variant
#: families cycling on doc_id — uppercase scheme/host, default ports,
#: tracking params, unsorted queries, fragments, missing paths. ONE
#: CASE template formatted for each engine.
_MESSY_URL_CASES = [
    "'HTTP://Docs.' || {src} || '.NET:80/a/b?utm_source=x&q=1#frag'",
    "'https://docs.' || {src} || '.net:443/a/b/?z=2&a=1'",
    "'http://DOCS.' || {src} || '.net/items?b=2&a=1&utm_campaign=c&utm_x=1'",
    "'http://docs.' || {src} || '.net'",
    "'https://docs.' || {src} || '.net/path?q=' || {did}",
]


def _messy_url_sql(src: str = "source", did: str = "doc_id") -> str:
    arms = " ".join(
        f"WHEN {i} THEN " + c.format(src=src, did=did)
        for i, c in enumerate(_MESSY_URL_CASES)
    )
    return f"CASE {did} % 5 {arms} END"


def _url_canonicalize_oracle() -> str:
    from auraverse_etl_pipeline_spark.functions.urls import canonical_url_sql

    return f"""
    WITH raw AS (SELECT doc_id, {_messy_url_sql()} AS raw_url FROM documents)
    SELECT doc_id, raw_url,
           {canonical_url_sql('raw_url')} AS canon_url
    FROM raw
    """


@query(
    "ingest_url_canonicalize",
    oracle=_url_canonicalize_oracle(),
    description="URL canonicalization - the crawl-frontier "
    "normalization before URL-level dedup and domain curation "
    "(lowercase scheme/host, strip default ports + fragments, "
    "normalize the empty path, drop utm_* tracking params, sort the "
    "query string - the CommonCrawl/Heritrix rule family): two raw "
    "URLs canonicalizing equal are the same fetch target, so the "
    "canonical form is the URL tier's dedup key. Pure string/array "
    "algebra (regex extract, split, filter, lexicographic sort, "
    "join), no UDF; ONE rule definition emits both the Spark Column "
    "and the byte-equivalent DuckDB expression, every output URL "
    "value-hashed over a 5-family messy fixture",
)
def ingest_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.functions.urls import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id", F.expr(_messy_url_sql()).alias("raw_url")
    )
    return raw.select("doc_id", "raw_url", canonical_url("raw_url").alias("canon_url"))


_TEMP_ALPHA = 0.7


@query(
    "mix_temperature_sampling",
    oracle=f"""
    WITH a AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS available_tokens
        FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(available_tokens) AS BIGINT) AS tot FROM a),
    b AS (
        SELECT a.*, CAST(available_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS raw_share
        FROM a, t
    ),
    p AS (SELECT b.*, pow(raw_share, {_TEMP_ALPHA!r}) AS w FROM b),
    d AS (
        SELECT CAST(SUM(CAST(floor(w * 1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1099511627776.0 AS d
        FROM p
    )
    SELECT stratum, n_docs, available_tokens, raw_share,
           w / d AS temp_share,
           (w / d) / raw_share AS boost
    FROM p, d
    """,
    description="temperature-scaled mixture weights - the "
    "multilingual sampling standard (mBERT/XLM-R/mT5): each stratum's "
    "token share raised to alpha=0.7 and renormalized, boosting "
    "low-resource strata without drowning the head; boost is the "
    "per-doc up/down-sampling factor the sampler applies. pow runs in "
    "the Python-libm Arrow batch over the STRATUM-sized table "
    "(bit-identical to DuckDB pow - probed 0/60k across three "
    "exponents, the _ln/_sigmoid discipline), the renormalization "
    "denominator is a floor(w*2^40) fixed-point sum, raw shares are "
    "IEEE divisions of exact BIGINT counts. One corpus scan, "
    "stratum-bounded everything after",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.sampling import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(docs, alpha=_TEMP_ALPHA)


# ---------------------------------------------------------------------------
# Byte-level BPE (operators/bpe.py — GPT-2/Llama-3 vocabulary family)
# ---------------------------------------------------------------------------

_BYTEBPE_TRAIN_MERGES = 6


@query(
    "text_bytebpe_train",
    oracle=_bpe_train_oracle(_BYTEBPE_TRAIN_MERGES, _BPE_BYTE_S0),
    description="BYTE-level BPE training (Radford et al. 2019 - the "
    "GPT-2/Llama-3 tokenizer family), completing the in-engine "
    "tokenizer matrix next to char BPE / WordPiece / unigram-LM: "
    "initial symbols are UTF-8 bytes spelled as uppercase hex pairs "
    "(hex(encode(word,'UTF-8')) on the JVM == hex(word) in DuckDB, "
    "byte-identical for ARBITRARY unicode - no character-segmentation "
    "parity surface at all), merges concatenate to even-length hex "
    "strings, and the merge loop/argmax/greedy-non-overlap machinery "
    "is shared verbatim with char BPE (vocabulary-bounded rounds, one "
    "corpus scan, 1-row argmax, per-round localCheckpoint). DuckDB "
    "replays every round digit-for-digit from the same unrolled CTE "
    "template with the byte s0",
)
def text_bytebpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import bytebpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bytebpe_train(docs, num_merges=_BYTEBPE_TRAIN_MERGES)


@query(
    "text_bytebpe_encode",
    oracle=_bpe_encode_oracle(_BYTEBPE_TRAIN_MERGES, _BPE_BYTE_S0),
    description="corpus tokenization with the learned byte-level "
    "merges: rank-dict closed over a memoized Arrow-batched kernel "
    "whose initial word symbols are Python's UTF-8 bytes (byte-"
    "identical to both engines' encoders) - embarrassingly parallel, "
    "no corpus shuffle; DuckDB replays from the byte training chain's "
    "final state (rank-order encoding == merge-history replay, pinned "
    "for the byte alphabet in pytest), comparing per-document piece "
    "count and the md5 of the space-joined hex piece stream",
)
def text_bytebpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.bpe import bytebpe_encode, bytebpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bytebpe_train(docs, num_merges=_BYTEBPE_TRAIN_MERGES)
    enc = bytebpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_pieces",
        F.md5(F.concat_ws(" ", "pieces")).alias("pieces_md5"),
    )


# ---------------------------------------------------------------------------
# Scalar quantization SQ8 (operators/similarity.py — int8 faiss tier)
# ---------------------------------------------------------------------------

_SQ_DIM = 64
_SQ_SHORTLIST = 50

#: Shared SQ8 oracle CTEs: corpus/queries split, per-dim min/max stats
#: (one aggregate), int8 encode, reconstruction. Every operation is
#: exactly-specified IEEE arithmetic — no libm anywhere in this tier.
_SQ_CTES = f"""
    WITH c AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 10
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    dims AS (SELECT CAST(unnest(range(1, {_SQ_DIM} + 1)) AS INTEGER) AS j),
    per AS (
        SELECT j, MIN(v[j]) AS vmin, MAX(v[j]) AS vmax
        FROM c CROSS JOIN dims GROUP BY j
    ),
    st AS MATERIALIZED (
        SELECT list(vmin ORDER BY j) AS vmin, list(vmax ORDER BY j) AS vmax
        FROM per
    ),
    enc AS (
        SELECT id, list_transform(range(1, {_SQ_DIM} + 1), j -> CAST(
                   CASE WHEN st.vmax[j] = st.vmin[j] THEN 0
                        ELSE least(255, greatest(0,
                             CAST(floor((v[j] - st.vmin[j]) * 255.0
                                        / (st.vmax[j] - st.vmin[j])) AS BIGINT)))
                   END - 128 AS TINYINT)) AS codes
        FROM c CROSS JOIN st
    )
"""


@query(
    "sim_sq_codes",
    oracle=_SQ_CTES
    + """
    SELECT id AS vec_id, CAST(j AS BIGINT) AS dim,
           CAST(codes[j] AS INTEGER) AS code
    FROM enc CROSS JOIN dims
    """,
    description="int8 scalar quantization (faiss SQ8) ENCODE parity, "
    "completing the compression family next to PQ/IVF-PQ: per-"
    "dimension min/max from ONE map-side-combined corpus aggregate "
    "(the 1-row stats frame broadcasts - the stat-frame fold pattern), "
    "then codes[j] = clamp(floor((x-vmin)*255/(vmax-vmin)))-128 stored "
    "as REAL tinyints (4x float32 compression), a single shuffle-free "
    "projection. Every op is exactly-specified IEEE arithmetic (sub/"
    "mul/div/floor - no libm), so DuckDB replays each byte "
    "digit-for-digit; constant dimensions quantize to code 0",
)
def sim_sq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import sq_encode, sq_stats

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    stats = sq_stats(corpus)
    return sq_encode(corpus, stats, dim=_SQ_DIM).select(
        F.col("id").alias("vec_id"),
        F.posexplode("codes").alias("dim0", "code"),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.col("code").cast("int").alias("code"),
    )


@query(
    "sim_sq_search",
    oracle=_SQ_CTES
    + f"""
    , recon AS (
        SELECT id, list_transform(range(1, {_SQ_DIM} + 1), j ->
                   st.vmin[j] + (CAST(codes[j] AS DOUBLE) + 128.0)
                                * (st.vmax[j] - st.vmin[j]) / 255.0) AS rv
        FROM enc CROSS JOIN st
    ),
    adc AS (
        SELECT q.query_id, r.id AS neighbor_id,
               {_l2sq_sql("qv", "rv")} AS approx_dist
        FROM recon r CROSS JOIN q
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_SQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, l2_sq FROM (
        SELECT s.query_id, s.neighbor_id, {_l2sq_sql("q.qv", "c.v")} AS l2_sq,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {_l2sq_sql("q.qv", "c.v")} ASC, s.neighbor_id) AS rank
        FROM short s
        JOIN c ON c.id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rank <= 5
    """,
    description="SQ8 retrieval end to end, the production shape: the "
    "compressed code table is the ONLY corpus-sized input (raw vectors "
    "never read) - each int8 code array decodes against the broadcast "
    "1-row stats and the ordered-fold L2^2 to the float query "
    "shortlists 50 (sequential fold: bit-identical across engines, no "
    "DECIMAL partials needed because nothing reorders the sum), then "
    "exact L2^2 re-ranks the true top-5 over only the shortlist. "
    "Generate-then-verify; shortlist recall of the exact top-5 pinned "
    "in pytest (tighter than PQ at equal depth - reconstruction error "
    "is one quantization step per dimension). DuckDB replays stats, "
    "codes, reconstruction, shortlist and re-rank digit-for-digit",
)
def sim_sq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        sq_encode,
        sq_stats,
        sq_topk_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    # the 1-row stats frame feeds BOTH the encode and the rerank's
    # reconstruction — cache it (paired release) or the per-dimension
    # min/max corpus aggregate executes twice in one returned plan.
    stats = sq_stats(corpus).cache()
    codes = sq_encode(corpus, stats, dim=_SQ_DIM)
    out = sq_topk_rerank(
        queries, codes, stats, corpus, k=5, shortlist=_SQ_SHORTLIST, dim=_SQ_DIM
    )
    return release_after(out.withColumn("rank", F.col("rank").cast("bigint")), stats)


@query(
    "sim_ivfsq_search",
    oracle=_SQ_CTES
    + f"""
    , cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
               v AS centroid
        FROM (SELECT id, v FROM c ORDER BY id LIMIT {_IVF_NLIST})
    ),
    assigned AS (
        SELECT id, cell FROM (
            SELECT c.id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY list_cosine_similarity(c.v, cent.centroid) DESC,
                                cent.cell) AS rn
            FROM c CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, cent.centroid) DESC,
                                cent.cell) AS pr
            FROM q CROSS JOIN cent
        ) WHERE pr <= {_IVF_NPROBE}
    ),
    recon AS (
        SELECT id, list_transform(range(1, {_SQ_DIM} + 1), j ->
                   st.vmin[j] + (CAST(codes[j] AS DOUBLE) + 128.0)
                                * (st.vmax[j] - st.vmin[j]) / 255.0) AS rv
        FROM enc CROSS JOIN st
    ),
    cand AS (
        SELECT p.query_id, a.id AS neighbor_id
        FROM probes p JOIN assigned a USING (cell)
    ),
    adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               {_l2sq_sql("q.qv", "r.rv")} AS approx_dist
        FROM cand cd
        JOIN recon r ON r.id = cd.neighbor_id
        JOIN q ON q.query_id = cd.query_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_SQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, l2_sq FROM (
        SELECT s.query_id, s.neighbor_id, {_l2sq_sql("q.qv", "c.v")} AS l2_sq,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {_l2sq_sql("q.qv", "c.v")} ASC, s.neighbor_id) AS rank
        FROM short s
        JOIN c ON c.id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rank <= 5
    """,
    description="IVF,SQ8 - the last cell of the faiss index matrix "
    "next to IVF,Flat and IVF,PQ: probe the nprobe nearest cells per "
    "query, decode ONLY the probed cells' int8 codes against the "
    "broadcast 1-row stats (once per neighbor, BEFORE the query "
    "fan-out - the sq_search discipline), shortlist by the asymmetric "
    "ordered-fold L2^2, exact-L2^2 refine the true top-5. The probed "
    "fraction of the code table (dim int8s per vector) is ALL the "
    "corpus-sized data the scan touches; persisted index + persisted "
    "codes, nothing refit per query. Pure exact-IEEE arithmetic so "
    "DuckDB replays probing, assignment, decode, shortlist and "
    "refinement digit-for-digit; full-probe equivalence to "
    "sq_topk_rerank pinned in pytest",
)
def sim_ivfsq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivfsq_search,
        sq_encode,
        sq_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = ivf_index(corpus, nlist=_IVF_NLIST, quantizer="sample")
    # stats feeds both the encode and the probed-cell reconstruction —
    # cache (paired release) or the corpus min/max aggregate runs twice.
    stats = sq_stats(corpus).cache()
    codes = sq_encode(corpus, stats, dim=_SQ_DIM)
    out = ivfsq_search(
        queries, idx, codes, stats, corpus=corpus,
        k=5, nprobe=_IVF_NPROBE, shortlist=_SQ_SHORTLIST, dim=_SQ_DIM,
    )
    # chain out's own handle (the operator's probes cache) alongside stats
    return release_after(
        out.withColumn("rank", F.col("rank").cast("bigint")), stats, out
    )


@query(
    "text_paragraph_dedup",
    oracle="""
    WITH docs2 AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 2 = 0
                            THEN chr(10) || chr(10) ||
                                 'Subscribe to our newsletter for weekly updates'
                            ELSE '' END AS text
        FROM documents
    ),
    split AS (
        -- COALESCE mirrors dedup_paragraphs' NULL-text passthrough (a
        -- NULL split yields zero unnest rows and the doc would vanish)
        SELECT doc_id, string_split(COALESCE(text, ''), chr(10) || chr(10)) AS ps
        FROM docs2
    ),
    p AS (
        SELECT doc_id, pos, ps[pos] AS para
        FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS pos FROM split)
    ),
    win AS (
        SELECT ph, doc_id AS kdoc, pos AS kpos FROM (
            SELECT md5(para) AS ph, doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY md5(para)
                                      ORDER BY doc_id, pos) AS rn
            FROM p WHERE trim(para) <> ''
        ) WHERE rn = 1
    ),
    tagged AS (
        SELECT p.doc_id, p.pos, p.para,
               (w.ph IS NULL OR (p.doc_id = w.kdoc AND p.pos = w.kpos)) AS keep
        FROM p LEFT JOIN win w ON md5(p.para) = w.ph
    )
    SELECT doc_id,
           md5(COALESCE(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                        FILTER (WHERE keep), '')) AS cleaned_md5,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_paras_kept,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_paras_dropped
    FROM tagged GROUP BY doc_id
    """,
    description="CCNet-style paragraph-granularity exact dedup: every "
    "non-blank paragraph repeated corpus-wide survives only at its "
    "first (doc_id, position) occurrence - KEEP-FIRST, the semantics "
    "that distinguishes it from boilerplate line removal (which "
    "deletes every copy and loses the content); an injected shared "
    "promo paragraph on even doc_ids survives exactly once. The "
    "keep-first aggregate groups md5(paragraph) hashes into one "
    "MIN(struct(doc,pos)) - fixed-width shuffle, text never moves - "
    "and the winner set joins back un-hinted (AQE decides: at web "
    "scale CCNet's duplicated-paragraph set outgrows any broadcast). "
    "Reassembly is the array_sort struct groupBy, no sort exchange",
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    docs2 = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\n\nSubscribe to our newsletter for weekly updates"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dedup_paragraphs(docs2)
    return out.select(
        "doc_id",
        F.md5("text").alias("cleaned_md5"),
        F.col("n_paras_kept").cast("bigint").alias("n_paras_kept"),
        F.col("n_paras_dropped").cast("bigint").alias("n_paras_dropped"),
    )


_SEMDEDUP_NLIST = 8
_SEMDEDUP_ITERS = 2
_SEMDEDUP_TAU = 0.9


def _semdedup_oracle() -> str:
    """DuckDB replica of :func:`semdedup_clusters` over the
    perturbed-copies corpus: the unrolled Lloyd chain, clamped-cosine
    cell assignment with (cos DESC, cell) ties, in-cell above-threshold
    pairs, and the more-central-member drop rule."""
    chain, prev = _lloyd_chain("c", _SEMDEDUP_NLIST, _SEMDEDUP_ITERS)
    return (
        _PERTURBED_SQL.format(max_id=150)
        + ", c AS MATERIALIZED (SELECT vec_id AS id, v FROM corpus)"
        + chain
        + f""",
    asg AS MATERIALIZED (
        SELECT id, v, cell, cs FROM (
            SELECT c.id, c.v, ct.cell,
                   least(CAST(1.0 AS DOUBLE),
                         list_cosine_similarity(c.v, ct.centroid)) AS cs,
                   ROW_NUMBER() OVER (PARTITION BY c.id
                       ORDER BY least(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(c.v, ct.centroid))
                                    DESC,
                                ct.cell) AS rn
            FROM c CROSS JOIN {prev} ct
        ) WHERE rn = 1
    ),
    pr AS (
        SELECT a.id AS id1, b.id AS id2, a.cs AS cs1, b.cs AS cs2
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
        WHERE least(CAST(1.0 AS DOUBLE),
                    list_cosine_similarity(a.v, b.v)) >= {_SEMDEDUP_TAU!r}
    ),
    losers AS (
        SELECT DISTINCT CASE WHEN cs1 > cs2 THEN id1
                             WHEN cs1 < cs2 THEN id2
                             ELSE greatest(id1, id2) END AS id
        FROM pr
    )
    SELECT id AS vec_id, CAST(cell AS BIGINT) AS cell, cs AS centroid_cos,
           id NOT IN (SELECT id FROM losers) AS kept
    FROM asg
    """
    )


@query(
    "dedup_semdedup",
    oracle=_semdedup_oracle(),
    description="SemDeDup (Abbas et al. 2023) with the paper's "
    "CLUSTER-BOUNDED pairing - the missing member of the embedding "
    "dedup ladder next to the LSH-candidate variant "
    "(dedup_embedding_clean): a deterministic Lloyd quantizer cells "
    "the corpus, exact clamped-fold cosine pairs form only INSIDE a "
    "cell (the SemDeDup trick that bounds the O(n^2) - the pair join "
    "shuffles by cell, never a global self-join; hot cells compose "
    "with ivf_rebalance), and among each above-threshold pair the "
    "MORE-CENTRAL member is dropped, keeping the diversity-adding "
    "example (declarative order-free drop rule in place of the "
    "paper's greedy sweep). One verdict row per vector with its cell "
    "and centroid cosine; DuckDB replays the Lloyd build, every "
    "assignment, every pair and every verdict digit-for-digit",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auraverse_etl_pipeline_spark.operators.similarity import semdedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_perturbed_copies(emb, max_id=150)
    return semdedup_clusters(
        corpus,
        nlist=_SEMDEDUP_NLIST,
        threshold=_SEMDEDUP_TAU,
        max_iter=_SEMDEDUP_ITERS,
    )
