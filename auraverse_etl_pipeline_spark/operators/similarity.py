"""Similarity search over embedding columns (``array<float>``).

Two paths:

- :func:`cosine_top_k` — exact brute force: broadcast the (small) query
  set against the corpus, dot products in native higher-order functions
  (whole-stage codegen, no Python), per-query top-k via window. The
  right baseline, and at 100 TB still the right tool when the query set
  is small: the corpus never shuffles, queries ship to the data.
- :func:`ivf_top_k` — IVF (inverted-file) approximate path: KMeans
  coarse quantizer, probe the ``nprobe`` nearest centroids, brute-force
  only inside probed cells. Corpus scan cost drops to
  nprobe/nlist of the exact path; recall is tunable.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from auraverse_etl_pipeline_spark.runtime import ship_package


def _batch_cosine_fn(v1: pd.Series, v2: pd.Series) -> pd.Series:
    """Arrow-batched cosine: one numpy matmul per chunk. Much faster
    than the interpreted per-row fold on large candidate sets; agrees
    with the ordered-fold spelling to ~1e-15 relative (pairwise vs
    sequential summation), so use the fold (``cosine_similarity_expr``)
    where bit-parity with the SQL oracle is required."""
    a = np.stack(v1.to_numpy())
    b = np.stack(v2.to_numpy())
    dots = (a * b).sum(axis=1)
    return pd.Series(dots / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)))


def batch_cosine(v1, v2) -> Column:
    """Column wrapper for :func:`_batch_cosine_fn`. The pandas_udf is
    built lazily — registering one at import time requires an active
    SparkContext, which would break importing this module before the
    session exists (the driver does exactly that)."""
    return F.pandas_udf(_batch_cosine_fn, "double")(v1, v2)


def _unrolled_sum(terms) -> Column:
    """``0.0 + t1 + t2 + …`` — EXACTLY the fold's left-to-right
    association including the leading zero (``0.0 + (-0.0)`` is
    ``+0.0``, so dropping the init could flip a signed zero)."""
    acc = F.lit(0.0).cast("double")
    for t in terms:
        acc = acc + t
    return acc


def cosine_similarity_expr(
    a: str | Column, b: str | Column, dim: int | None = None
) -> Column:
    """Cosine similarity of two double-array columns as a single native
    expression (ordered left-fold → deterministic, matches DuckDB's
    ``list_cosine_similarity`` bit-for-bit on the same arrays).

    With ``dim`` given, the fold UNROLLS into a flat sum of
    ``element_at`` terms — the same left-to-right association, so the
    double is still bit-identical (probed: 0 diffs / 20k rows), but
    the expression participates in whole-stage codegen, which the
    higher-order ``aggregate``/``zip_with`` form does not
    (CodegenFallback) — measured 1.4× on the 6.4M-row assignment
    workload (SCALE.md r12). Callers must know the true width: under
    ANSI mode an out-of-range ``element_at`` raises (the same
    fixed-width contract as the SQ tier's ``transform(sequence(…))``
    spellings)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    zero = F.lit(0.0).cast("double")
    if dim is not None:
        ea = [F.element_at(a, j) for j in range(1, dim + 1)]
        eb = [F.element_at(b, j) for j in range(1, dim + 1)]
        dot = _unrolled_sum(x * y for x, y in zip(ea, eb))
        norm_a = F.sqrt(_unrolled_sum(x * x for x in ea))
        norm_b = F.sqrt(_unrolled_sum(x * x for x in eb))
        return dot / (norm_a * norm_b)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, x: acc + x)
    norm_a = F.sqrt(F.aggregate(a, zero, lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate(b, zero, lambda acc, x: acc + x * x))
    return dot / (norm_a * norm_b)


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def cosine_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fold: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, neighbor_id, rank, cosine), rank 1..k, ties
    broken by neighbor id (deterministic). The query side is broadcast;
    the corpus is scanned once with no shuffle before the per-query
    top-k (which partitions by query_id).

    Scoring runs through the Arrow-batched numpy matmul by default —
    the corpus×queries product is the hot loop, and the interpreted
    higher-order fold is ~50× slower there. ``exact_fold=True`` keeps
    the ordered-fold spelling whose sums are bit-identical to DuckDB's
    ``list_cosine_similarity`` — only the oracle-gated parity query
    needs that."""
    if not exact_fold:
        # batch_cosine's kernel is module-level (pickled by reference):
        # executors launched by a session we don't own need the package
        ship_package(corpus.sparkSession)
    score = cosine_similarity_expr if exact_fold else batch_cosine
    q = F.broadcast(
        _as_double(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        score(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fold: bool = False,
) -> DataFrame:
    """Radius (range) search: every corpus neighbor within a cosine
    threshold of each query vector — the retrieval shape for "find ALL
    sufficiently-similar documents" (dedup sweeps, recall-oriented
    retrieval), where top-k's fixed k either truncates dense
    neighborhoods or pads sparse ones.

    Output: (query_id, neighbor_id, cosine), cosine ≥ threshold. Same
    physical shape as :func:`cosine_top_k` minus the window: queries
    broadcast, corpus scanned once with NO shuffle at all (the top-k
    variant still shuffles by query_id for ranking; a pure radius
    filter doesn't need to). At 100 TB this is the cheapest possible
    retrieval plan — one scan, one broadcast, a codegen'd filter.
    """
    if not exact_fold:
        ship_package(corpus.sparkSession)  # batch_cosine, see cosine_top_k
    score = cosine_similarity_expr if exact_fold else batch_cosine
    q = F.broadcast(
        _as_double(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return (
        c.crossJoin(q)
        .select("query_id", "neighbor_id", score(F.col("qv"), F.col("cv")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs: (id1, id2, cosine) for all
    id1 < id2 with cosine ≥ threshold.

    Brute-force O(n²) self-join — the correctness baseline. Only run it
    on a bounded candidate set; the scale path is
    :func:`hyperplane_lsh_pairs`, which feeds this exact check only
    LSH-bucketed candidates."""
    e = _as_double(df, vec_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    b = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", cosine_similarity_expr("v1", "v2").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 384,
    band_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = None,
    dim: int | None = None,
    plane_kind: str = "gaussian",
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH, exact-cosine
    verified (Charikar signs — SimHash for vectors).

    ``dim`` (optional) is the embedding width; when omitted it is
    derived from the first Arrow batch on the executor — never via a
    driver-side job, so constructing this operator launches no Spark
    jobs. The hyperplanes are a deterministic function of (seed, dim),
    so every batch regenerates the identical matrix.

    ``plane_kind`` selects the hyperplane family:

    - ``"gaussian"`` (default) — numpy RNG standard-normal planes,
      signs from one vectorized matmul per Arrow batch. The throughput
      path; band keys depend on numpy's summation order, so they are
      NOT replayable by another engine (queries over this path are
      rows-only checkable).
    - ``"signs"`` — md5-derived ±1 planes (:func:`projection_signs`,
      the Achlioptas/JL matrix; requires ``dim``). Each plane dot
      product runs as a codegen'd ORDERED left-fold, bit-identical to
      DuckDB's sequential ``list_reduce``, and the exact-cosine verify
      uses the ordered-fold :func:`cosine_similarity_expr` — so every
      band key AND every output cosine replays digit-for-digit in a
      SQL oracle, while the planes still MIX components (unlike the
      axis-aligned :func:`signbucket_lsh_pairs`, whose recall suffers
      on correlated dimensions). ±1-plane sign agreement approximates
      the Gaussian angle bound (Achlioptas shows the sign matrix
      preserves the same inner-product geometry), so the recall
      formula below carries over. No Python workers anywhere in this
      path.

    ``max_bucket_size`` drops any (band, key) bucket larger than the
    cap before the self-join (same skew guard as the text LSH tiers:
    one hot bucket makes the candidate join quadratic). OPT-IN
    (default None): a capped run yields zero pairs for duplicate
    clusters bigger than the cap, so enable it only after exact dedup
    ran, and audit ``operators.dedup.hot_buckets`` for skipped keys.

    Gaussian-path signs are computed with one vectorized numpy matmul
    per Arrow batch (``mapInPandas`` — the throughput path: no
    per-element interpreted expressions); signs-path bits come from
    codegen'd ordered folds (oracle-portable, pays interpreted
    per-plane cost — size n_planes accordingly). Either way bits pack
    into ``n_planes // band_bits`` band keys; candidates come from
    band-equality joins, then the exact cosine check removes false
    positives. Recall for a pair at angle θ is
    1-(1-(1-θ/π)^band_bits)^n_bands — tunable via n_planes/band_bits.
    Output: (id1, id2, cosine).

    Default band geometry is 32 bands × 12 bits: recall ≈ 0.996 at
    cosine 0.9 while random collisions land in 4096 buckets per band.
    Wide-and-few bands (e.g. 4 × 4 bits) are a trap: 16 buckets per
    band turns the band join into a near-cross-join on any real corpus
    (measured ~2M candidates on 4k vectors — the verify stage, not the
    matmul, is where band geometry shows up)."""
    import numpy as np
    import pandas as pd

    if plane_kind not in ("gaussian", "signs"):
        raise ValueError(f"plane_kind must be 'gaussian' or 'signs', got {plane_kind!r}")
    if plane_kind == "signs" and dim is None:
        raise ValueError("plane_kind='signs' requires an explicit dim")
    ship_package(df.sparkSession)  # batch_cosine verify stage, see cosine_top_k
    n_bands = n_planes // band_bits

    e = _as_double(df, vec_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def band_keys(batches):
        planes = (
            np.random.default_rng(seed).standard_normal((n_planes, dim))
            if dim is not None
            else None
        )
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["v"].to_numpy())  # (rows, dim)
            if planes is None:
                planes = np.random.default_rng(seed).standard_normal((n_planes, mat.shape[1]))
            bits = (mat @ planes.T) >= 0  # (rows, n_planes)
            weights = (1 << np.arange(band_bits)).astype(np.int64)
            keys = [
                bits[:, i * band_bits : (i + 1) * band_bits] @ weights
                for i in range(n_bands)
            ]  # n_bands × (rows,)
            yield pd.DataFrame(
                {"id": pdf["id"], "bands": [list(t) for t in zip(*keys)]}
            )

    # cache: the band self-join (and the optional hot-bucket count)
    # consume this multiple times, and without the cache each consumer
    # re-runs the band-key stage. The cached reference stays in
    # `banded_keys` so release_after pairs the release even when the
    # cap rebinds the join input.
    if plane_kind == "signs":
        signs = projection_signs(dim, n_planes, seed)
        zero = F.lit(0.0).cast("double")

        def plane_dot(d: int):
            return F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(s) for s in signs[d]]),
                    lambda x, s: x * s,
                ),
                zero,
                lambda acc, x: acc + x,
            )

        keys = [
            sum(
                (
                    F.when(
                        plane_dot(b * band_bits + j) >= 0,
                        F.lit(1 << j).cast("bigint"),
                    ).otherwise(F.lit(0).cast("bigint"))
                    for j in range(band_bits)
                ),
                start=F.lit(0).cast("bigint"),
            )
            for b in range(n_bands)
        ]
        banded_keys = (
            e.select("id", F.posexplode(F.array(*keys)).alias("band", "key"))
            .cache()
        )
    else:
        banded_keys = (
            e.mapInPandas(band_keys, "id bigint, bands array<bigint>")
            .select("id", F.posexplode("bands").alias("band", "key"))
            .cache()
        )
    banded = banded_keys
    if max_bucket_size is not None:
        from auraverse_etl_pipeline_spark.operators.dedup import drop_hot_buckets

        # post-cap table feeds both self-join sides — cache it so the
        # hot-bucket count + anti-join run once (cf. minhash/simhash)
        banded = drop_hot_buckets(banded_keys, ["band", "key"], max_bucket_size).cache()
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    pairs = cand.join(
        e.select(F.col("id").alias("id1"), F.col("v").alias("v1")), "id1"
    ).join(e.select(F.col("id").alias("id2"), F.col("v").alias("v2")), "id2")

    # Gaussian path: candidate volume is data-dependent (clustered
    # corpora collide a lot), so verify with the Arrow-batched cosine.
    # Signs path: verify with the ordered fold so the output cosines
    # (not just the band keys) replay bit-for-bit in the SQL oracle.
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    cos = (
        cosine_similarity_expr("v1", "v2")
        if plane_kind == "signs"
        else batch_cosine("v1", "v2")
    )
    result = pairs.select("id1", "id2", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )
    return release_after(result, banded_keys, banded)


def signbucket_band_bits(n_vectors: int, target_occupancy: int = 16) -> int:
    """Derive a sign-bucket band width from the corpus size: the
    smallest ``band_bits`` keeping expected bucket occupancy
    (n / 2^band_bits) at or below ``target_occupancy``, floored at 8
    and capped at 16.

    The default target (16) holds verify cost near-linear in n: each
    candidate bucket contributes occupancy²/2 pairs, so constant
    occupancy ⇒ pairs ∝ n (one extra band bit per corpus doubling
    past ~4k vectors). The round-4 stress measured exactly this
    failure at a fixed width — occupancy 156 at 8 bits cost 12× wall
    for 20× data, while re-derived geometry stays ~linear (SCALE.md).
    The 16-bit cap exists because the derived width must not exceed
    real embedding dims; past ~1M vectors occupancy creeps up again —
    there, pass an explicit ``band_bits`` ≤ dim or use the
    random-plane tier, whose bit count is decoupled from the vector
    width."""
    import math

    need = math.ceil(math.log2(max(n_vectors, 1) / target_occupancy)) if n_vectors > target_occupancy else 0
    return min(16, max(8, need))


def short_vectors(
    df: DataFrame,
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The vectors :func:`signbucket_lsh_pairs` silently drops at a
    given band geometry: (id, dim) for every row with fewer than
    ``band_bits`` components — they form no band, so they can never
    appear in the pair output. This is the audit surface for the
    short-vector filter (the :func:`~auraverse_etl_pipeline_spark.
    operators.dedup.hot_buckets` contract): count it, log it, or write
    it next to the dedup output so a mixed-width corpus records exactly
    which vectors the sign-LSH tier never considered, instead of
    losing them silently. Empty ⇒ the geometry covers the corpus."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.size(F.col(vec_col)).cast("int").alias("dim"),
        )
        .filter(F.col("dim") < band_bits)
    )


def signbucket_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    band_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    approx_count: int | None = None,
) -> DataFrame:
    """Deterministic sign-bucket LSH: the engine-portable twin of
    :func:`hyperplane_lsh_pairs`, with AXIS-ALIGNED hyperplanes (the
    coordinate planes) instead of RNG Gaussians — so a SQL oracle can
    replay every band key digit-for-digit, which the random-plane tier
    by construction cannot.

    Each vector's dimensions are cut into ``dim // band_bits``
    consecutive bands; a band key bit-packs the component signs.
    Vectors sharing ANY (band, key) become candidates; an exact-cosine
    check (ordered fold — bit-identical to DuckDB's
    ``list_cosine_similarity``) removes false positives. Output:
    (id1, id2, cosine), id1 < id2, cosine ≥ threshold.

    Trade-off vs the random-plane tier: axis-aligned planes are not
    data-independent (correlated dimensions share bands), so recall at
    a given band geometry is somewhat lower — measured 0.93 on the
    perturbed-copy fixture at 8×8 vs ~0.99 for 32×12 random planes —
    but the whole pipeline stays native codegen'd expressions (no
    Python workers at all) and every stage is oracle-checkable. Same
    scale shape: fixed-width (id, band, key) rows shuffle, band
    equality joins, verify proportional to candidates; the band table
    is cached with a paired release (multi-consumer self-join).

    THE BAND GEOMETRY IS SIZED TO THE CORPUS: a band has only
    ``2^band_bits`` buckets, so expected occupancy is n / 2^band_bits
    and verify cost grows as bands × n² / 2^band_bits — a fixed 8 bits
    is fine at thousands of vectors and quadratic death at millions
    (measured: 20× corpus → 12× wall at 8 bits, vs ~2× for the 12-bit
    random-plane tier). ``band_bits=None`` (the default) therefore
    derives the width from the corpus size via
    :func:`signbucket_band_bits` — from ``approx_count`` when the
    caller knows it (a table statistic; keeps the operator job-free),
    else from one exact ``df.count()`` (deterministic, one cheap
    count job before planning). Pass ``band_bits`` explicitly only
    when an oracle/baseline pins the geometry, and then also set
    ``max_bucket_size`` at scale (same opt-in skew cap +
    ``hot_buckets`` audit contract as the MinHash tier: capped
    buckets drop whole duplicate clusters, so cap only after exact
    dedup ran).

    SHORT/ODD VECTOR WIDTHS: a vector with fewer than ``band_bits``
    components forms no band at all and is FILTERED OUT — it vanishes
    from the pair output (it can never collide), so mixed-width
    corpora should gate on ``size(vec) >= band_bits`` upstream where
    that's a data bug rather than intent; :func:`short_vectors` at the
    same geometry returns exactly the dropped (id, dim) rows — the
    audit a capped run writes next to its output (the ``hot_buckets``
    contract). When the width is not a
    multiple of ``band_bits``, the trailing ``dim % band_bits``
    dimensions are ignored for bucketing (they still count in the
    exact-cosine verify), mildly raising collision rates — harmless
    for recall, never for precision."""
    if band_bits is None:
        n_vectors = approx_count if approx_count is not None else df.count()
        band_bits = signbucket_band_bits(n_vectors)
    e = (
        _as_double(df, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .filter(F.size("v") >= band_bits)  # sequence(0,-1) guard; see docstring
    )
    weights = F.array(*[F.lit(1 << j).cast("bigint") for j in range(band_bits)])
    n_bands = F.floor(F.size("v") / band_bits).cast("int")
    band_arr = F.transform(
        F.sequence(F.lit(0), n_bands - 1),
        lambda b: F.aggregate(
            F.zip_with(
                F.slice("v", b * band_bits + 1, band_bits),
                weights,
                lambda x, w: F.when(x >= 0, w).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, y: acc + y,
        ),
    )
    banded_keys = e.select("id", F.posexplode(band_arr).alias("band", "key")).cache()
    banded = banded_keys
    if max_bucket_size is not None:
        from auraverse_etl_pipeline_spark.operators.dedup import drop_hot_buckets

        banded = drop_hot_buckets(banded_keys, ["band", "key"], max_bucket_size).cache()
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    pairs = cand.join(
        e.select(F.col("id").alias("id1"), F.col("v").alias("v1")), "id1"
    ).join(e.select(F.col("id").alias("id2"), F.col("v").alias("v2")), "id2")
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    result = pairs.select(
        "id1", "id2", cosine_similarity_expr("v1", "v2").alias("cosine")
    ).filter(F.col("cosine") >= threshold)
    return release_after(result, banded_keys, banded)


@dataclass
class IvfIndex:
    """The persistable IVF index — the embedding-tier twin of the
    MinHash ``index``/``match``/``merge`` triple.

    Two tables, both plain data:

    - ``centroids`` — (cell int, centroid array<double>): the coarse
      quantizer. nlist rows; always broadcast at query time.
    - ``assignments`` — (id, v array<double>, cell int): the inverted
      file — every corpus vector with its cell label.

    :meth:`save` writes both as parquet, the assignments PARTITIONED BY
    ``cell``, so a probed search scans only the probed cells' partition
    directories (the probe set joins as a broadcast against the
    partition column — dynamic partition pruning territory) and a daily
    pipeline appends :func:`ivf_assign` deltas as new files inside the
    cells they land in, never rewriting the index. A retrieval or
    SemDeDup pipeline builds this ONCE (:func:`ivf_index`), then every
    run is :meth:`load` + :func:`ivf_search` — no quantizer refit."""

    centroids: DataFrame
    assignments: DataFrame

    def save(self, path: str, mode: str = "overwrite") -> "IvfIndex":
        from auraverse_etl_pipeline_spark.operators.caching import run_jobs

        def _centroids() -> None:
            # model-sized by definition (nlist rows): one output file,
            # not one near-empty file per default partition — the
            # multi-task commit costs more than the write itself
            self.centroids.coalesce(1).write.mode(mode).parquet(
                f"{path}/centroids"
            )

        def _assignments() -> None:
            (
                # cluster by the partition column first: an unclustered
                # partitioned write holds one open parquet writer per
                # (task, cell) — tasks × nlist heap buffers, measured
                # as a driver OOM at 160k×64 on a default heap — and
                # emits cells × tasks small files; clustered it is one
                # writer per cell per task and ~one file per cell
                self.assignments.repartition("cell")
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(f"{path}/assignments")
            )

        # independent tables — overlapped writes (guide §2.6): the
        # tiny centroids job rides the assignments write's task tail
        run_jobs([_centroids, _assignments])
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfIndex":
        return cls(
            centroids=spark.read.parquet(f"{path}/centroids"),
            assignments=spark.read.parquet(f"{path}/assignments"),
        )


def ivf_assign(
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clamp: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Assign vectors to their nearest centroid (max cosine, ties to
    the lowest cell) WITHOUT touching the quantizer — the incremental
    write path: new documents get cells against yesterday's centroids
    and append into the persisted index's cell partitions. Output:
    (id, v, cell, centroid_cos).

    ``clamp=True`` caps the cosine at 1.0 — required whenever a
    centroid can coincide with a member vector (the Lloyd quantizer's
    sample init, a singleton cell's mean): the native fold scores a
    self-pair 1+2e-16 while DuckDB's list_cosine_similarity clamps,
    so an unclamped argmax can disagree across engines (the
    ivf_rebalance / mix_cluster_balanced clamp rule).

    Scale shape: centroids broadcast (nlist rows), the batch is scanned
    once, and the argmax is a ``max_by`` hash aggregate — partial
    map-side combine, so the shuffle carries ONE fixed-width row per
    vector, never the batch×nlist scored expansion. The cosine is the
    ordered native fold (:func:`cosine_similarity_expr`), so every
    assignment is engine-reproducible — a SQL oracle replays the cell
    labels digit-for-digit."""
    b = _as_double(batch, vec_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cent = F.broadcast(centroids.select("cell", "centroid"))
    cos = cosine_similarity_expr("v", "centroid", dim=dim)
    if clamp:
        cos = F.least(F.lit(1.0), cos)
    scored = b.crossJoin(cent).select(
        "id",
        "v",
        "cell",
        cos.alias("centroid_cos"),
    )
    best = F.max_by(
        F.struct("cell", "centroid_cos", "v"),
        F.struct(F.col("centroid_cos"), (-F.col("cell")).alias("neg_cell")),
    )
    return (
        scored.groupBy("id")
        .agg(best.alias("_best"))
        .select("id", "_best.v", "_best.cell", "_best.centroid_cos")
    )


#: Fixed-point scale (2^43) for the Lloyd quantizer's exact mean
#: partials — exact in double, and float32-derived components with
#: |x| ≥ 2^-20 scale to exact integers. Shared with the SQL oracle.
_LLOYD_FIXED_POINT = 8796093022208.0


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    quantizer: str = "kmeans",
    seed: int = 42,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> IvfIndex:
    """Build the IVF coarse quantizer + inverted file over a corpus.

    ``quantizer``:

    - ``"kmeans"`` — KMeans(nlist) over L2-normalized vectors (best
      recall per probe; centroids are data once built, but the BUILD is
      RNG/ml-dependent, so pipelines that need engine-reproducible
      indexes use the other mode). ``max_iter`` bounds the Lloyd
      iterations (each is a distributed job): a coarse quantizer only
      needs rough convergence — recall is governed by nprobe/nlist, not
      centroid polish — and 8 (vs pyspark.ml's 20) halves build time
      with no measurable recall change on the pinned tests; FAISS's IVF
      trainers default to 10 for the same reason.
    - ``"sample"`` — the nlist lowest-id corpus vectors ARE the
      centroids (a deterministic sample quantizer — random-sample
      centroids are a standard cheap coarse quantizer, made
      reproducible by sampling on the id order). Assignment is
      :func:`ivf_assign`'s exact-fold cosine argmax, so index build AND
      search replay digit-for-digit in any engine with a list cosine —
      the oracle-gated tier.
    - ``"lloyd"`` — DETERMINISTIC in-engine Lloyd iterations: sample
      init (above), then ``max_iter`` rounds of exact-fold cosine
      assignment (clamped — iteration 1's centroids ARE member
      vectors) + per-cell mean update through order-independent
      DECIMAL(38,12) partials; an emptied cell keeps its previous
      centroid. Spherical k-means without the normalize step (cosine
      argmax is scale-invariant in the centroid, so the plain mean is
      equivalent to the normalized one). Same recall class as
      ``"kmeans"`` — real data-driven centroids, unlike the sample
      quantizer — but every arithmetic step is engine-portable, so
      the BUILD replays digit-for-digit in a SQL oracle (unrolled
      iteration CTEs, the BPE-train discipline). Per round the
      centroids (nlist×dim doubles — model-sized) are collected to
      the driver and re-broadcast, the standard Lloyd driver loop
      (MLlib does the same); the corpus-sized work per round is one
      scan + one fixed-width max_by shuffle + one (cell, dim) mean
      aggregate.

    All modes return the same schema, so :func:`ivf_search` and the
    persistence contract don't care which built the index."""
    c = _as_double(corpus, vec_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if quantizer in ("sample", "lloyd"):
        w = Window.orderBy("id")
        cent = (
            c.orderBy("id")
            .limit(nlist)
            .select(
                (F.row_number().over(w) - 1).cast("int").alias("cell"),
                F.col("v").alias("centroid"),
            )
        )
        if quantizer == "sample":
            assignments = ivf_assign(c, cent, id_col="id", vec_col="v", dim=dim).select(
                "id", "v", "cell"
            )
            return IvfIndex(centroids=cent, assignments=assignments)
        spark = corpus.sparkSession
        # the corpus projection is scanned once per Lloyd round (assign)
        # plus the final assignment — cache it for the loop's lifetime
        # (unpersisted before returning; the returned assignments plan
        # re-derives it from source, so nothing dangles)
        c = c.cache()
        cent_rows = [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in cent.collect()
        ]
        schema = "cell int, centroid array<double>"
        # The per-cell mean runs through EXACT FIXED-POINT partials:
        # components scaled by 2^43 (exact in double; float32-derived
        # vectors with |x| >= 2^-20 become exact integers), summed as
        # DECIMAL(38,0), one division at the end. Order-independent,
        # mergeable, and TIE-FREE across engines — a raw
        # double→DECIMAL(38,12) cast hits half-up (Spark) vs half-even
        # (DuckDB) ties on dyadic float32 components (measured:
        # 0.1983642578125 → …813 vs …812). floor() makes sub-quantum
        # components deterministic rather than exact (bias < 2^-43).
        fx = F.lit(_LLOYD_FIXED_POINT)
        vdim = dim  # unroll only when the caller opted in (SCALE.md r12)
        # per-cell mean update: posexplode → per-(cell, dim) mean →
        # per-cell collect. An unrolled width-wide single aggregate was
        # A/B'd in optimization r17 and REGRESSED at width 64
        # (sim_ivf_lloyd warm 3.7 → 5.7 s: 64 sum columns evaluate
        # wide-row per input, slower than the streamed explode despite
        # two fewer shuffles) — the narrow-subvector PQ twin keeps the
        # unrolled form (see pq_codebooks), full-width vectors keep
        # this one.
        for _ in range(max_iter):
            cur = spark.createDataFrame(cent_rows, schema)
            asg = ivf_assign(c, cur, id_col="id", vec_col="v", clamp=True, dim=vdim)
            upd = (
                asg.select("cell", F.posexplode("v").alias("dim", "x"))
                .groupBy("cell", "dim")
                .agg(
                    (
                        F.sum(
                            F.floor(F.col("x") * fx).cast("decimal(38,0)")
                        ).cast("double")
                        / F.count(F.lit(1))
                        / fx
                    ).alias("val")
                )
                .groupBy("cell")
                .agg(
                    F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("s")
                )
                .select("cell", F.transform("s", lambda t: t["val"]).alias("centroid"))
            )
            got = {int(r["cell"]): [float(x) for x in r["centroid"]] for r in upd.collect()}
            cent_rows = [(cell, got.get(cell, prev)) for cell, prev in cent_rows]
        cent = spark.createDataFrame(cent_rows, schema)
        c.unpersist()  # lazy consumers below re-derive from source
        assignments = ivf_assign(c, cent, id_col="id", vec_col="v", clamp=True, dim=vdim).select(
            "id", "v", "cell"
        )
        return IvfIndex(centroids=cent, assignments=assignments)
    if quantizer != "kmeans":
        raise ValueError(
            f"unknown quantizer {quantizer!r}; use 'kmeans', 'lloyd' or 'sample'"
        )

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    c_vec = Normalizer(inputCol="raw_vec", outputCol="unit_vec").transform(
        c.withColumn("raw_vec", array_to_vector("v"))
    )
    km = KMeans(k=nlist, seed=seed, maxIter=max_iter, featuresCol="unit_vec", predictionCol="cell")
    model = km.fit(c_vec)
    assignments = model.transform(c_vec).select("id", "v", "cell")
    centroids = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    cent = corpus.sparkSession.createDataFrame(centroids, "cell int, centroid array<double>")
    return IvfIndex(centroids=cent, assignments=assignments)


def ivf_search(
    queries: DataFrame,
    index: IvfIndex,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fold: bool = False,
    clamp: bool = False,
    dim: int | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Probe an :class:`IvfIndex`: score the ``nprobe`` nearest
    centroids per query, brute-force only the vectors assigned to
    probed cells. Same output shape as :func:`cosine_top_k` —
    (query_id, neighbor_id, rank, cosine); recall < 1 by construction,
    tunable via nprobe/nlist.

    ``exclude`` is LAZY retirement (the Lucene-liveDocs pattern on the
    vector tier): a 1-column ``(id)`` tombstone frame anti-joined off
    the indexed side before scoring, so a take-down is unsearchable at
    the NEXT query — O(1) tombstone append now, the physical
    partition rewrite (:func:`~auraverse_etl_pipeline_spark.operators.
    retire.ivf_retire`) at the next maintenance pass. Unlike BM25's
    stale-df caveat, exclusion here returns EXACTLY the
    physically-retired index's answers (per-pair cosines are
    independent of corpus statistics) — pinned in tests. The frame
    is broadcast — correct for take-down-sized lists; a backlog
    near broadcast limits is overdue for its physical
    :func:`ivf_retire` pass, not a bigger broadcast.

    ``clamp=True`` caps in-cell cosines at 1.0 — for corpora where a
    query vector can EQUAL an indexed vector (duplicate documents
    through a deterministic encoder): the native fold scores the pair
    1+2e-16 while DuckDB clamps, the :func:`ivf_assign` rule.

    No refit, no corpus scan: the quantizer is read, not trained, so a
    daily retrieval pipeline pays only the probe join against a
    cell-partitioned assignments table (nprobe/nlist of the corpus).
    In-cell scoring (the hot loop at scale) uses the Arrow-batched
    cosine by default; ``exact_fold=True`` restores the native ordered
    fold for oracle bit-parity. Centroid probing is queries×nlist —
    tiny — and keeps the native fold either way so the probe stage
    stays JVM-side with no Python worker round-trip."""
    if not exact_fold:
        ship_package(queries.sparkSession)  # batch_cosine, see cosine_top_k
    assignments = index.assignments
    if exclude is not None:
        assignments = assignments.join(
            F.broadcast(exclude.select("id").distinct()), "id", "left_anti"
        )
    indexed = assignments.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    cent_df = F.broadcast(index.centroids.select("cell", "centroid"))
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(cent_df)
        .select("query_id", "qv", "cell", cosine_similarity_expr("qv", "centroid", dim=dim).alias("centroid_cos"))
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    if exact_fold:
        cos = cosine_similarity_expr(F.col("qv"), F.col("cv"), dim=dim)
    else:
        cos = batch_cosine(F.col("qv"), F.col("cv"))
    if clamp:
        cos = F.least(F.lit(1.0), cos)
    return (
        probes.join(indexed, "cell")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_rebalance(index: IvfIndex, max_cell_size: int, dim: int | None = None) -> IvfIndex:
    """Split every over-full IVF cell in two — the day-2 maintenance
    op of a long-lived index: incremental :func:`ivf_assign` /
    ``stream_ivf_assign`` appends skew cells over time (a hot topic, a
    crawl burst), and an oversized cell makes every probe that hits it
    scan ``occupancy`` vectors — the same quadratic-tail failure the
    sign-LSH tier measured at fixed band widths (SCALE.md). FAISS
    answers with re-training; the engine-reproducible answer here is a
    deterministic SPLIT: no RNG, no refit of cold cells, replayable by
    a SQL oracle.

    Mechanics, all bounded joins:

    1. cell sizes from one fixed-width aggregate; cells ≤
       ``max_cell_size`` keep their id, their centroid, and their
       assignment rows UNTOUCHED (at scale: their partition
       directories are never rewritten),
    2. each over-cap cell is split by the sample-quantizer discipline
       (its two lowest-id member vectors become sub-centroids — the
       same deterministic choice ``ivf_index(quantizer="sample")``
       makes),
    3. the first sub-centroid REUSES the old cell id (probes and
       partition layouts for the surviving id stay valid); the second
       gets ``max_cell_id + rank`` (row_number over the split cells'
       ids — appended ids, nothing renumbered),
    4. only the split cells' vectors re-assign, by the exact-fold
       cosine argmax between their two sub-centroids (ties to the
       lower cell id, as everywhere in this tier).

    One pass may leave a child still over cap (a cluster genuinely
    bigger than the cap); call again — each call strictly splits every
    over-cap cell, so occupancy halves geometrically for separable
    data. Returns a new :class:`IvfIndex`; inputs are not mutated.

    Cache discipline: the input assignments feed FOUR consumers (cell
    sizes, sub-centroid choice, the re-assignment argmax, the cold
    passthrough), so an unpersisted plan is cached here — but a
    caller-persisted index (or a plain parquet scan from
    :meth:`IvfIndex.load`, where recompute is one cheap rescan) is
    never force-cached (the ``minhash_match_index`` rule). The hot-cell
    list is tiny but also multi-consumed, so it is cached
    unconditionally. Releases ride on the returned index's
    ``assignments.release_caches()`` handle."""
    from pyspark import StorageLevel

    from auraverse_etl_pipeline_spark.operators.caching import release_after

    asg = index.assignments
    owned = []
    if asg.storageLevel == StorageLevel.NONE:
        asg = asg.cache()
        owned.append(asg)
    sizes = asg.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hot = sizes.filter(F.col("n") > max_cell_size).select("cell").cache()
    owned.append(hot)
    max_id = index.centroids.agg(F.max("cell").alias("m"))
    hot_rank = hot.select(
        "cell",
        F.row_number().over(Window.orderBy("cell")).alias("rk"),
    )
    hot_members = asg.join(F.broadcast(hot), "cell")
    sub_w = Window.partitionBy("cell").orderBy("id")
    subs = (
        hot_members.withColumn("rn", F.row_number().over(sub_w))
        .filter(F.col("rn") <= 2)
        .join(F.broadcast(hot_rank), "cell")
        .crossJoin(F.broadcast(max_id))
        .select(
            F.col("cell").alias("old_cell"),
            F.when(F.col("rn") == 1, F.col("cell"))
            .otherwise(F.col("m") + F.col("rk"))
            .cast("int")
            .alias("new_cell"),
            F.col("v").alias("centroid"),
        )
    ).cache()  # 2 rows per hot cell; consumed by the argmax AND the centroid union
    owned.append(subs)
    moved = (
        hot_members.join(F.broadcast(subs), asg["cell"] == subs["old_cell"])
        .select(
            "id",
            "v",
            "new_cell",
            # Sub-centroids ARE member vectors, so a self-pair can score
            # 1+2e-16 under the native fold while DuckDB clamps to 1.0 —
            # clamp so the cross-engine argmax tie-break agrees
            # (CLAUDE.md clamp rule, same as mix_cluster_balanced).
            F.least(
                F.lit(1.0), cosine_similarity_expr("v", "centroid", dim=dim)
            ).alias("c"),
        )
        .groupBy("id")
        .agg(
            F.max_by(
                F.struct("new_cell", "v"),
                F.struct(F.col("c"), (-F.col("new_cell")).alias("neg")),
            ).alias("_b")
        )
        .select("id", "_b.v", F.col("_b.new_cell").alias("cell"))
    )
    cold_asg = asg.join(F.broadcast(hot), "cell", "left_anti")
    cold_cent = index.centroids.join(F.broadcast(hot), "cell", "left_anti")
    return IvfIndex(
        centroids=cold_cent.unionByName(
            subs.select(F.col("new_cell").alias("cell"), "centroid")
        ),
        assignments=release_after(
            cold_asg.select("id", "v", "cell").unionByName(moved), *owned
        ),
    )


def ivf_occupancy(assignments: DataFrame, cap: int) -> DataFrame:
    """Per-cell occupancy audit over a persisted IVF inverted file —
    the measurement that decides when :func:`ivf_rebalance` fires.
    The incremental write paths (:func:`ivf_assign`, the
    ``stream_ivf_assign`` / ``stream_semdedup_gate`` loops) skew cells
    over time, and an oversized cell makes every probe that hits it
    scan ``occupancy`` vectors; rebalancing "between batches" (the
    gate's documented advice) needs a trigger signal, not a guess.
    The vector twin of :func:`~auraverse_etl_pipeline_spark.operators.
    dedup.hot_buckets` — same audit-before-you-cap discipline.

    Output, one row per occupied cell: (cell, n_members, max_members,
    med_members, skew_ratio = n_members/median, over_cap = n_members >
    ``cap``) — ``cap`` is the same absolute ``max_cell_size`` you
    would hand :func:`ivf_rebalance`, so the over-cap list IS the set
    of cells the next rebalance pass will split.

    Shape: one fixed-width count aggregate over the assignments (the
    only corpus-sized input; at scale this is a scan of the cell-
    partitioned index — column-pruned to the partition column), then a
    1-row stats frame (max/median over nlist rows) broadcast back over
    the per-cell counts — the pinned 1-row-stat-fold BNLJ pattern,
    never a data×data pair. The nlist-row count table feeds both the
    output and the stats fold, so it is cached (else the corpus scan
    runs once per consumer); call ``release_caches()`` when done."""
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    occ = assignments.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    ).cache()
    stats = occ.agg(
        F.max("n_members").alias("max_members"),
        F.percentile("n_members", F.lit(0.5)).cast("double").alias("med_members"),
    )
    result = occ.crossJoin(F.broadcast(stats)).select(
        "cell",
        "n_members",
        "max_members",
        "med_members",
        (F.col("n_members").cast("double") / F.col("med_members")).alias("skew_ratio"),
        (F.col("n_members") > F.lit(int(cap))).alias("over_cap"),
    )
    return release_after(result, occ)


#: Fixed-point scale (2^40) for the drift audit's exact per-batch
#: cosine sums: |floor(cos·2^40)| ≤ 2^40 per row, so any per-(cell,
#: batch) group under 2^12 rows sums inside 2^52 — exactly
#: representable in the double the final division casts through.
#: Shared with the SQL oracle spelling.
_DRIFT_FIXED_POINT = 1099511627776.0


def quantizer_drift_audit(
    decisions: DataFrame,
    batch_col: str = "batch_id",
    cell_col: str = "cell",
    cos_col: str = "centroid_cos",
    drift_threshold: float = 0.05,
) -> DataFrame:
    """Per-cell quantizer-fit trend over the gate's decision log — the
    TEMPORAL twin of :func:`ivf_occupancy` and the retrain trigger the
    maintenance loop still lacked: :func:`ivf_occupancy` measures
    skew (how unevenly the frozen quantizer spreads arrivals) and
    fires :func:`ivf_rebalance`, but a stream whose distribution
    DRIFTS away from the day-1 corpus decays ``centroid_cos`` — each
    arrival lands farther from its best centroid — which silently
    erodes probe recall long before any cell runs hot. Every gate
    scoring already records (cell, centroid_cos) per arrival, so the
    signal is one aggregate over the log, no corpus or index scan.

    Output, one row per cell seen in the log: (cell, n_batches,
    first_batch, last_batch, n_first, n_last, avg_cos_first,
    avg_cos_last, drift = avg_cos_last − avg_cos_first, retrain =
    drift < −``drift_threshold``). A retrain-flagged cell means the
    arrivals the quantizer routes there no longer resemble the
    centroid — re-fit the quantizer (or split the cell) before recall
    decays further.

    Engine-exactness discipline: the per-batch means are fixed-point —
    each cosine contributes ``floor(cos·2^40)`` to a BIGINT sum
    (order-independent, no float crosses an unordered aggregate — the
    ``_LLOYD_FIXED_POINT`` rule at audit precision), and the mean is
    recovered with two IEEE divisions spelled identically in the SQL
    oracle, so drift replays digit-for-digit. Shape: one fixed-width
    hash aggregate over the log (partial map-side combine) down to
    (cells × batches) rows, then a second aggregate down to nlist
    rows with ``min_by``/``max_by`` picking the endpoint batches —
    never a window sort over the full log."""
    fx = F.lit(_DRIFT_FIXED_POINT)
    per_batch = (
        decisions.select(
            F.col(cell_col).alias("cell"),
            F.col(batch_col).cast("bigint").alias("batch_id"),
            F.floor(F.col(cos_col) * fx).cast("bigint").alias("cos_fix"),
        )
        .groupBy("cell", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cos_fix").cast("bigint").alias("s"),
        )
    )
    ns = F.struct("n", "s")
    per_cell = per_batch.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.min("batch_id").alias("first_batch"),
        F.max("batch_id").alias("last_batch"),
        F.min_by(ns, F.col("batch_id")).alias("_f"),
        F.max_by(ns, F.col("batch_id")).alias("_l"),
    )
    # identical two-division spelling on both engines: BIGINT→DOUBLE
    # casts of exact integers, then two IEEE divides — bit-stable
    avg_f = F.col("_f.s").cast("double") / F.col("_f.n").cast("double") / fx
    avg_l = F.col("_l.s").cast("double") / F.col("_l.n").cast("double") / fx
    return per_cell.select(
        "cell",
        "n_batches",
        "first_batch",
        "last_batch",
        F.col("_f.n").alias("n_first"),
        F.col("_l.n").alias("n_last"),
        avg_f.alias("avg_cos_first"),
        avg_l.alias("avg_cos_last"),
        (avg_l - avg_f).alias("drift"),
        (avg_l - avg_f < F.lit(-float(drift_threshold))).alias("retrain"),
    )


def pq_quantization_error(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ quantization error against FROZEN codebooks:
    ``(id, qerr)`` where ``qerr = Σ_sub min_code L2²(subv, centroid)``
    — the reconstruction error the encoder locks in, and the signal
    :func:`pq_drift_audit` trends: a corpus drifting away from the
    day-1 training distribution lands every subvector farther from its
    best cell, so the error RISES batch over batch exactly the way
    ``centroid_cos`` decays on the coarse quantizer.

    Scale shape: identical to :func:`pq_encode` — literally the same
    :func:`_pq_scored_subs` table (one scan into m fixed-width
    subvector rows, broadcast codebooks, ``min`` hash aggregate — one
    row per (vector, subspace) reaches the shuffle), so the logged
    error can never drift from what the encoder commits; then a per-id
    ORDERED fold over the m per-subspace minima in ``sub`` order
    (``collect_list`` of exactly m fixed-width structs per id — still
    one hash aggregate with partial merge). The fold, not DECIMAL
    partials, because :func:`pq_drift_audit` floors ``qerr·2^40``
    downstream: a double→DECIMAL(38,12) cast of a COMPUTED double can
    round a .5 tie differently across engines (Spark HALF_UP, DuckDB
    HALF_EVEN — the round-5 gotcha), and at 2^40 scale a 1e-12 tie
    divergence always crosses the floor boundary. The sequential fold
    is bit-identical to DuckDB ``list_sum(list(d ORDER BY sub))``
    (probed 0/3000 on parquet-backed lists, r16; note DuckDB's float
    LITERAL parser is off-by-1-ulp on some shortest-repr doubles, so
    the probe must bind data, never inline repr() literals). Log it at
    encode time next to the codes and the drift audit needs no corpus
    re-scan."""
    scored = _pq_scored_subs(df, codebooks, m, dim, id_col, vec_col)
    return (
        scored.groupBy("id", "sub")
        .agg(F.min("d").alias("d"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "d"))).alias("_sd"))
        .select(
            "id",
            F.aggregate(
                F.col("_sd"), F.lit(0.0), lambda acc, x: acc + x["d"]
            ).alias("qerr"),
        )
    )


def pq_drift_audit(
    log: DataFrame,
    batch_col: str = "batch_id",
    err_col: str = "qerr",
    drift_threshold: float = 0.5,
) -> DataFrame:
    """Codebook-fit trend over a (batch_id, qerr) encode log — the PQ
    twin of :func:`quantizer_drift_audit`, and the trigger that fires
    :func:`~auraverse_etl_pipeline_spark.streaming.ops.
    retrain_pq_index`: the coarse quantizer's drift decays a COSINE
    per cell, the product quantizer's drift RAISES the reconstruction
    error globally (codebooks are corpus-wide, so the audit is one
    row, not one per cell). Output: (n_batches, first_batch,
    last_batch, n_first, n_last, avg_err_first, avg_err_last,
    drift = avg_err_last − avg_err_first, retrain = drift >
    ``drift_threshold``).

    Same engine-exactness discipline as the cosine audit: per-batch
    means are fixed-point (``floor(qerr·2^40)``), but summed as
    DECIMAL(38,0) rather than BIGINT — the cosine is intrinsically
    bounded in [-1, 1] while qerr is only small for unit-normalized
    vectors, and nothing enforces normalization on the log; a raw
    embedding with norm ~100 at dim 64 scales to ~2^60 per row, which
    would silently wrap a BIGINT sum and flip the retrain flag
    arbitrarily. DECIMAL(38,0) holds ~2^126, exactly, for any
    realistic log — with one PER-ROW bound (advice r15): the scaled
    term ``floor(qerr·2^40)`` itself passes through Spark's BIGINT
    ``floor`` before the DECIMAL cast, so a single row needs ``qerr <
    ~2^23`` (~8.4e6 — vector norm ≲3000 at dim 64; real embedding
    norms are O(1–100), so the bound only binds on garbage input,
    where ANSI mode throws rather than wraps). Endpoints via
    ``min_by``/``max_by`` — one fixed-width aggregate chain, never a
    window sort over the log."""
    fx = F.lit(_DRIFT_FIXED_POINT)
    per_batch = (
        log.select(
            F.col(batch_col).cast("bigint").alias("batch_id"),
            F.floor(F.col(err_col) * fx).cast("decimal(38,0)").alias("err_fix"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("err_fix").cast("decimal(38,0)").alias("s"),
        )
    )
    ns = F.struct("n", "s")
    folded = per_batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.min("batch_id").alias("first_batch"),
        F.max("batch_id").alias("last_batch"),
        F.min_by(ns, F.col("batch_id")).alias("_f"),
        F.max_by(ns, F.col("batch_id")).alias("_l"),
    )
    avg_f = F.col("_f.s").cast("double") / F.col("_f.n").cast("double") / fx
    avg_l = F.col("_l.s").cast("double") / F.col("_l.n").cast("double") / fx
    return folded.select(
        "n_batches",
        "first_batch",
        "last_batch",
        F.col("_f.n").alias("n_first"),
        F.col("_l.n").alias("n_last"),
        avg_f.alias("avg_err_first"),
        avg_l.alias("avg_err_last"),
        (avg_l - avg_f).alias("drift"),
        (avg_l - avg_f > F.lit(float(drift_threshold))).alias("retrain"),
    )


def sq_clamp_audit(
    log: DataFrame,
    batch_col: str = "batch_id",
    codes_col: str = "codes",
    clamp_threshold: float = 0.25,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Saturation trend over an SQ8 encode log — the scalar-quantizer
    member of the drift-trigger family (coarse: ``centroid_cos``
    decay; PQ: ``qerr`` rise; SQ: CLAMPING): a component outside the
    frozen day-1 ``[vmin, vmax]`` clamps to a byte edge (code −128 or
    127), so a drifting corpus saturates exactly the dimensions that
    moved and the compressed-domain shortlist goes blind there. The
    signal needs NO raw vectors and no stats table — the edge codes
    are countable from the code arrays the index already stores, so
    the audit is one scan of the log.

    Output, one row: (n_batches, first_batch, last_batch, n_first,
    n_last, clamp_frac_first, clamp_frac_last, drift =
    last − first, retrain = clamp_frac_last > ``clamp_threshold``).
    The flag is on the LEVEL, not the slope: a day-1 corpus already
    pins one vector's components at each true min/max (those define
    the range), so a small baseline fraction is healthy — it is the
    saturated fraction that makes the shortlist blind, however it got
    there. Fires :func:`~auraverse_etl_pipeline_spark.streaming.ops.
    retrain_sq_index`.

    Constant-dimension caveat: ``_sq_code_expr`` codes a dimension
    whose ``vmin == vmax`` (zero-padded/constant embeddings) as 0 −
    128 = −128 by construction — permanently, since a re-fit derives
    the same degenerate range — so counting those as saturated would
    flag retrain forever and defeat the self-quench. Pass the index's
    1-row ``stats`` frame to EXCLUDE constant dimensions from both the
    numerator and the denominator (the tick does); without ``stats``
    the audit is stats-free but only sound for corpora with no
    constant dimensions.

    Engine-exactness: per-batch fractions are exact integer ratios —
    clamped-component and total-component BIGINT counts, one IEEE
    division — so a SQL oracle replays them digit-for-digit. Shape:
    one fixed-width aggregate over the log (the per-array edge count
    is a codegen'd ``filter`` fold, no explode; with ``stats``, a
    broadcast 1-row crossJoin feeds the index-aware fold), then the
    endpoint ``min_by``/``max_by`` fold — never a window sort."""
    if stats is not None:
        log = log.crossJoin(F.broadcast(stats.select("vmin", "vmax")))

        def _live(i):
            return F.element_at(F.col("vmin"), i + F.lit(1)) != F.element_at(
                F.col("vmax"), i + F.lit(1)
            )

        edge = F.size(
            F.filter(
                F.col(codes_col),
                lambda c, i: ((c == F.lit(-128)) | (c == F.lit(127))) & _live(i),
            )
        ).cast("bigint")
        total = F.size(
            F.filter(F.col(codes_col), lambda c, i: _live(i))
        ).cast("bigint")
    else:
        edge = F.size(
            F.filter(
                F.col(codes_col), lambda c: (c == F.lit(-128)) | (c == F.lit(127))
            )
        ).cast("bigint")
        total = F.size(F.col(codes_col)).cast("bigint")
    per_batch = (
        log.select(
            F.col(batch_col).cast("bigint").alias("batch_id"),
            edge.alias("e"),
            total.alias("t"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("e").cast("bigint").alias("es"),
            F.sum("t").cast("bigint").alias("ts"),
        )
    )
    nst = F.struct("n", "es", "ts")
    folded = per_batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.min("batch_id").alias("first_batch"),
        F.max("batch_id").alias("last_batch"),
        F.min_by(nst, F.col("batch_id")).alias("_f"),
        F.max_by(nst, F.col("batch_id")).alias("_l"),
    )
    frac_f = F.col("_f.es").cast("double") / F.col("_f.ts").cast("double")
    frac_l = F.col("_l.es").cast("double") / F.col("_l.ts").cast("double")
    return folded.select(
        "n_batches",
        "first_batch",
        "last_batch",
        F.col("_f.n").alias("n_first"),
        F.col("_l.n").alias("n_last"),
        frac_f.alias("clamp_frac_first"),
        frac_l.alias("clamp_frac_last"),
        (frac_l - frac_f).alias("drift"),
        (frac_l > F.lit(float(clamp_threshold))).alias("retrain"),
    )


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exact_fold: bool = False,
    max_iter: int = 8,
    quantizer: str = "kmeans",
    clamp: bool | None = None,
    dim: int | None = None,
) -> DataFrame:
    """One-shot IVF-flat approximate top-k: :func:`ivf_index` (KMeans
    quantizer by default; pass ``quantizer="lloyd"`` for the
    deterministic engine-portable build) + :func:`ivf_search` composed
    — the exploratory spelling when no index exists yet. Anything that
    runs more than once should build the index once, ``.save()`` it,
    and call :func:`ivf_search` against the loaded index instead of
    refitting per run.

    ``clamp`` forwards to :func:`ivf_search`; it defaults to
    ``exact_fold`` because the exact fold is the oracle-gated path and
    a query vector that EQUALS an indexed vector folds to 1+2e-16
    where DuckDB's ``list_cosine_similarity`` clamps to 1.0 (ADVICE
    r9) — pass ``clamp=False`` explicitly to see the raw fold."""
    index = ivf_index(
        corpus, nlist=nlist, quantizer=quantizer, seed=seed, max_iter=max_iter,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    return ivf_search(
        queries, index, k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        exact_fold=exact_fold,
        clamp=exact_fold if clamp is None else clamp,
        dim=dim,
    )


def l2_sq_expr(a: str | Column, b: str | Column, dim: int | None = None) -> Column:
    """Squared Euclidean distance as a native ORDERED fold — the same
    left-to-right accumulation DuckDB's sequential list kernels use, so
    the double is bit-identical across engines (measured, not assumed:
    see the PQ oracle tests). ``dim`` unrolls the fold into flat
    codegen-able terms with the identical association — see
    :func:`cosine_similarity_expr`."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    if dim is not None:
        return _unrolled_sum(
            (F.element_at(ca, j) - F.element_at(cb, j))
            * (F.element_at(ca, j) - F.element_at(cb, j))
            for j in range(1, dim + 1)
        )
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int | None = None,
    quantizer: str = "sample",
    seed: int = 42,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: ``(sub, code, centroid)`` — the
    vector space cut into ``m`` consecutive subspaces of ``dim/m``
    components, each with ``ksub`` centroids.

    Three quantizer modes, mirroring the IVF tier:

    - ``"sample"`` (default) — the ``ksub`` lowest-id corpus vectors'
      subvectors are the centroids: deterministic, so build, encode
      and search all replay digit-for-digit in a SQL oracle.
    - ``"kmeans"`` — one KMeans(ksub) fit PER SUBSPACE over that
      subspace's subvectors (classic PQ training): tighter cells,
      measurably better raw-ADC ranking (pytest pins the improvement),
      but ``m`` driver-coordinated fits and RNG/partitioning-dependent
      centroids — the offline-build mode, not the oracle-gated one.
    - ``"lloyd"`` — deterministic TRAINED codebooks, engine-portable:
      sample init per subspace, then ``max_iter`` rounds of exact-fold
      L2 argmin assignment (ties to the lowest code; L2 of a self-pair
      is exactly 0.0, so no clamp is needed, unlike the cosine tier) +
      per-(sub, code) fixed-point means (the ``_LLOYD_FIXED_POINT``
      discipline). ALL ``m`` subspaces train in ONE distributed
      aggregate per round — the (id, sub) exploded table shuffles
      fixed-width rows keyed by (sub, code) — where the MLlib mode
      pays ``m`` sequential driver-coordinated fits; only the
      model-sized codebook (m×ksub rows) is collected per round.
      Classic PQ training quality with a SQL-replayable build.

    The schema is identical in every mode, so :func:`pq_encode` /
    :func:`pq_search` don't care which built it.

    ``dim`` avoids the one-row lookup job when the caller knows the
    width (a table statistic); trailing ``dim % m`` components are
    ignored for quantization (document-level distances shift by a
    constant subspace-independent amount, harmless for ranking).
    """
    if dim is None:
        dim = corpus.select(F.size(vec_col)).first()[0]
    dsub = dim // m
    if dsub < 1:
        raise ValueError(f"m={m} exceeds vector width {dim}")
    if quantizer == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        subv = (
            _as_double(corpus, vec_col)
            .select(F.col(vec_col).alias("v"))
            .select(F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "v")
            .select("sub", F.slice("v", F.col("sub") * dsub + 1, dsub).alias("subv"))
            .withColumn("fv", array_to_vector("subv"))
            .cache()
        )
        spark = corpus.sparkSession
        parts = []
        for s in range(m):
            km = KMeans(k=ksub, seed=seed + s, maxIter=max_iter, featuresCol="fv")
            model = km.fit(subv.filter(F.col("sub") == s))
            parts.append(
                spark.createDataFrame(
                    [(s, i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
                    "sub int, code int, centroid array<double>",
                )
            )
        subv.unpersist()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if quantizer == "lloyd":
        spark = corpus.sparkSession
        subv = (
            _as_double(corpus, vec_col)
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .select(
                "id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "v"
            )
            .select(
                "id", "sub", F.slice("v", F.col("sub") * dsub + 1, dsub).alias("subv")
            )
            .cache()  # scanned once per Lloyd round
        )
        schema = "sub int, code int, centroid array<double>"
        # sample init = the ksub lowest-id vectors' subvectors (code =
        # id rank). Taking them from the corpus-level orderBy+limit
        # (optimization r17) yields the IDENTICAL subvector values as
        # the former per-sub window over the exploded subv table —
        # every id carries all m subs, so the ksub lowest-id rows per
        # sub ARE the ksub lowest ids' slices — without paying a full
        # window sort of the m-times-larger exploded table.
        w0 = Window.orderBy("id")
        init = (
            _as_double(corpus, vec_col)
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .orderBy("id")
            .limit(ksub)
            .select((F.row_number().over(w0) - 1).cast("int").alias("code"), "v")
            .select(
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
                "code",
                "v",
            )
            .select(
                "sub",
                "code",
                F.slice("v", F.col("sub") * dsub + 1, dsub).alias("centroid"),
            )
        )
        rows = [
            (int(r["sub"]), int(r["code"]), [float(x) for x in r["centroid"]])
            for r in init.collect()
        ]
        fx = F.lit(_LLOYD_FIXED_POINT)
        for _ in range(max_iter):
            cb = F.broadcast(spark.createDataFrame(rows, schema))
            asg = (
                subv.join(cb, "sub")
                .select(
                    "id",
                    "sub",
                    "subv",
                    "code",
                    l2_sq_expr("subv", "centroid", dim=dsub).alias("d"),
                )
                .groupBy("id", "sub")
                .agg(
                    F.min_by(
                        F.struct("code", "subv"), F.struct("d", F.col("code"))
                    ).alias("_b")
                )
                .select(
                    "sub", F.col("_b.code").alias("code"), F.col("_b.subv").alias("subv")
                )
            )
            # per-(sub, code) mean in ONE aggregate (optimization r17):
            # subvectors are exactly dsub wide by slice construction,
            # so the posexplode → per-(sub,code,dim) mean →
            # per-(sub,code) collect chain (two extra shuffles per
            # round) collapses to dsub unrolled fixed-point sum columns
            # — identical arithmetic. Unrolled ONLY while dsub stays
            # narrow: the same rewrite REGRESSED on full-width (64)
            # vectors in ivf_index's loop (wide-row evaluation beats
            # the streamed explode only for narrow rows), so wide
            # subspaces keep the explode.
            if dsub <= 16:
                n_ = F.count(F.lit(1))
                upd = asg.groupBy("sub", "code").agg(
                    *[
                        (
                            F.sum(
                                F.floor(F.element_at("subv", i + 1) * fx).cast(
                                    "decimal(38,0)"
                                )
                            ).cast("double")
                            / n_
                            / fx
                        ).alias(f"_d{i}")
                        for i in range(dsub)
                    ]
                )
                got = {
                    (int(r["sub"]), int(r["code"])): [
                        float(r[f"_d{i}"]) for i in range(dsub)
                    ]
                    for r in upd.collect()
                }
            else:
                upd = (
                    asg.select("sub", "code", F.posexplode("subv").alias("dim", "x"))
                    .groupBy("sub", "code", "dim")
                    .agg(
                        (
                            F.sum(
                                F.floor(F.col("x") * fx).cast("decimal(38,0)")
                            ).cast("double")
                            / F.count(F.lit(1))
                            / fx
                        ).alias("val")
                    )
                    .groupBy("sub", "code")
                    .agg(
                        F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("s")
                    )
                    .select(
                        "sub",
                        "code",
                        F.transform("s", lambda t: t["val"]).alias("centroid"),
                    )
                )
                got = {
                    (int(r["sub"]), int(r["code"])): [float(x) for x in r["centroid"]]
                    for r in upd.collect()
                }
            rows = [(s_, c_, got.get((s_, c_), prev)) for s_, c_, prev in rows]
        subv.unpersist()
        return spark.createDataFrame(rows, schema)
    if quantizer != "sample":
        raise ValueError(
            f"unknown quantizer {quantizer!r}; use 'sample', 'lloyd' or 'kmeans'"
        )
    w = Window.orderBy("id")
    base = (
        _as_double(corpus, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(ksub)
        .select((F.row_number().over(w) - 1).cast("int").alias("code"), "v")
    )
    return base.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "code", "v"
    ).select(
        "sub",
        "code",
        F.slice("v", F.col("sub") * dsub + 1, dsub).alias("centroid"),
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against PQ codebooks: ``(id, sub, code)`` — for
    each of the ``m`` subspaces, the nearest centroid (min L2², ties to
    the lowest code). ``m × 1`` small-int rows replace ``dim`` floats:
    the 8-16× memory compression that lets a 100 TB embedding corpus
    sit in RAM-adjacent storage for ANN.

    Scale shape: codebooks broadcast (m·ksub rows), the corpus is
    scanned once into ``m`` fixed-width subvector rows, the argmin is a
    ``max_by`` hash aggregate (map-side combined — one row per
    (vector, subspace) reaches the shuffle). No refit, ever: new
    batches encode against yesterday's codebooks, the PQ twin of
    :func:`ivf_assign`."""
    scored = _pq_scored_subs(df, codebooks, m, dim, id_col, vec_col)
    best = F.max_by("code", F.struct((-F.col("d")).alias("nd"), (-F.col("code")).alias("nc")))
    return scored.groupBy("id", "sub").agg(best.alias("code"))


def pq_encode_with_error(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """The encode-time logging posture :func:`pq_encode` and
    :func:`pq_quantization_error` both advertise, in ONE scored-subs
    pass: returns ``(codes, log, cache_handle)`` where ``codes`` is
    byte-for-byte :func:`pq_encode`'s ``(id, sub, code)`` (same argmin
    / ties-to-lowest-code rule, spelled identically) and ``log`` is
    byte-for-byte :func:`pq_quantization_error`'s ``(id, qerr)`` (same
    ordered sub-order fold over the same per-(id, sub) minima).
    Calling the two operators separately scores every (subvector,
    centroid) pair TWICE — at corpus scale that is the dominant cost
    of standing up a day-1 index (measured: the r16 ``compressed``
    staging group halved). The shared per-(id, sub) minima table is
    cached (m fixed-width rows per vector — tiny next to the scoring
    it saves) because two actions consume it; the caller MUST
    ``cache_handle.unpersist()`` once both outputs are materialized
    (the ``bm25_index`` convention)."""
    scored = _pq_scored_subs(df, codebooks, m, dim, id_col, vec_col)
    best = scored.groupBy("id", "sub").agg(
        F.max_by(
            "code",
            F.struct((-F.col("d")).alias("nd"), (-F.col("code")).alias("nc")),
        ).alias("code"),
        F.min("d").alias("d"),
    )
    best = best.persist()
    codes = best.select("id", "sub", "code")
    log = (
        best.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "d"))).alias("_sd"))
        .select(
            "id",
            F.aggregate(
                F.col("_sd"), F.lit(0.0), lambda acc, x: acc + x["d"]
            ).alias("qerr"),
        )
    )
    return codes, log, best


def _pq_scored_subs(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The shared (id, sub, code, d) scoring table behind
    :func:`pq_encode` and :func:`pq_quantization_error`: the vector cut
    into ``m`` subvectors, broadcast-joined against the codebooks,
    every (subvector, centroid) pair scored with the exact-fold L2².
    ONE definition so the logged quantization error can never drift
    from what the encoder actually commits to disk."""
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    dsub = dim // m
    subs = (
        _as_double(df, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "v")
        .select("id", "sub", F.slice("v", F.col("sub") * dsub + 1, dsub).alias("subv"))
    )
    return subs.join(F.broadcast(codebooks), "sub").select(
        "id", "sub", "code", l2_sq_expr("subv", "centroid", dim=dsub).alias("d")
    )


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: build each query's
    distance lookup table (query subvector → every centroid, m·ksub
    doubles per query), then approximate dist(q, x) as the sum of the
    LUT entries its ``m`` codes select. Output: (query_id, neighbor_id,
    rank, approx_dist), rank 1 = nearest, ties to the lowest id.

    Scale shape: the LUT is queries × m × ksub rows — broadcast — so
    the code table (the ONLY corpus-sized input, m small-ints per
    vector, the raw vectors never read) is scanned once map-side; the
    per-(query, neighbor) sum is a hash aggregate whose partials are
    DECIMAL(38,12) (exact, order-independent — double partials are
    bit-identical across engines but a double SUM would depend on
    partial-aggregation order), then top-k via the rank-pushdown
    window. Compose with an IVF cell filter on the code table for
    IVF-PQ: probe cells first, ADC-score only their codes.

    PERSIST THE CODES: ``codes`` is the index — write it to parquet
    once per corpus and search the stored table. Passing the lazy
    :func:`pq_encode` plan re-encodes the corpus inside every search
    job (measured 42 s vs 4 s at 40k vectors, SCALE.md round 5)."""
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    m = codebooks.select(F.max("sub")).first()[0] + 1
    dsub_df = codebooks.select(F.size("centroid").alias("s")).limit(1)
    dsub = dsub_df.first()[0]
    lut = (
        q.select("query_id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "qv")
        .select("query_id", "sub", F.slice("qv", F.col("sub") * dsub + 1, dsub).alias("qsub"))
        .join(F.broadcast(codebooks), "sub")
        .select("query_id", "sub", "code", l2_sq_expr("qsub", "centroid", dim=dsub).alias("pd"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col("neighbor_id"))
    return (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("pd").cast("decimal(38,12)")).cast("double").alias("approx_dist")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_dist")
    )


def pq_topk_rerank(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ retrieval shape: ADC over codes SHORTLISTS
    ``shortlist`` candidates per query (compressed-domain scan — the
    raw corpus is never read), then exact L2² over only those
    candidates re-ranks the true top-``k``. Output: (query_id,
    neighbor_id, rank, l2_sq).

    Sample codebooks are coarse, so ADC alone mis-ranks neighbors
    (measured recall@5 ≈ 0.26 at m=8 on the test corpus) — but as a
    candidate generator at depth 50 with m=16 it recalls 0.98 of the
    exact top-5, and the re-rank join touches shortlist × |Q| vectors,
    not the corpus. This is the same generate-then-verify contract as
    every LSH tier in this engine: the approximation only decides who
    pays for the exact computation."""
    cand = pq_search(
        queries, codes, codebooks, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("l2_sq").asc(), F.col("neighbor_id"))
    return (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        # full corpus width, NOT m·dsub (trailing dim % m components
        # are ignored by quantization but count in the exact re-rank)
        # and not derivable from the codebooks — keep the fold on this
        # shortlist-bounded stage
        .select("query_id", "neighbor_id", l2_sq_expr("qv", "cv").alias("l2_sq"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_sq")
    )


def ivfpq_search(
    queries: DataFrame,
    index: "IvfIndex",
    codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ: the complete compressed-domain ANN pipeline. Probe the
    ``nprobe`` nearest cells per query (the :class:`IvfIndex`'s own
    cosine geometry), ADC-score ONLY the probed cells' PQ codes
    (broadcast per-query LUT, DECIMAL partials), keep a ``shortlist``;
    with ``corpus`` given, exact-L2² refine the true top-``k``
    (FAISS's IVFPQR shape), else return ADC ranks directly. Output:
    (query_id, neighbor_id, rank, l2_sq) — or ``approx_dist`` in
    place of ``l2_sq`` without refinement.

    This is the 100 TB retrieval posture in one operator: the scan
    touches nprobe/nlist of the CODE table (m small-ints per vector —
    the raw corpus is read only for the shortlist × |Q| refine rows),
    both the cell filter and the ADC join are equality joins on
    broadcast-able sides, and every stage is deterministic. Persist
    ``codes`` and ``index`` to parquet; neither is refit per query
    (:func:`ivf_assign` / :func:`pq_encode` append new batches).

    Metric note: candidate generation follows the index's cosine
    cells while ADC/refine score L2² — coherent when vectors are
    length-normalized (then the two orders agree); on unnormalized
    data size nprobe/shortlist against the pinned recall test."""
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cent_df = F.broadcast(index.centroids.select("cell", "centroid"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(cent_df)
        .select(
            "query_id", "qv", "cell",
            cosine_similarity_expr("qv", "centroid", dim=dim).alias("centroid_cos"),
        )
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    m = codebooks.select(F.max("sub")).first()[0] + 1
    dsub = codebooks.select(F.size("centroid").alias("s")).limit(1).first()[0]
    lut = (
        q.select("query_id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "qv")
        .select("query_id", "sub", F.slice("qv", F.col("sub") * dsub + 1, dsub).alias("qsub"))
        .join(F.broadcast(codebooks), "sub")
        .select("query_id", "sub", "code", l2_sq_expr("qsub", "centroid", dim=dsub).alias("pd"))
    )
    cand = probes.select("query_id", "cell").join(
        index.assignments.select(F.col("id").alias("neighbor_id"), "cell"), "cell"
    ).select("query_id", "neighbor_id")
    adc = (
        cand.join(codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("pd").cast("decimal(38,12)")).cast("double").alias("approx_dist")
        )
    )
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    short = (
        adc.withColumn("rank", F.row_number().over(short_w))
        .filter(F.col("rank") <= (shortlist if corpus is not None else k))
    )
    if corpus is None:
        return short.select("query_id", "neighbor_id", "rank", "approx_dist")
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    rer_w = Window.partitionBy("query_id").orderBy(F.col("l2_sq").asc(), F.col("neighbor_id"))
    return (
        short.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", l2_sq_expr("qv", "cv", dim=dim).alias("l2_sq"))
        .withColumn("rank", F.row_number().over(rer_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_sq")
    )


def projection_signs(in_dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 Achlioptas/JL sign matrix, derived from md5 so
    any engine (or auditor) can re-derive it from (seed, d, i) alone —
    the same engine-reproducibility contract as the sign-bucket LSH
    tier, with no RNG state to ship. Row ``d`` holds the ``in_dim``
    signs of output dimension ``d``."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}_{d}_{i}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for d in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exploded: bool = True,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): ``proj[d] = Σ_i v[i]·s(d,i) / √out_dim``,
    emitted as exploded ``(id, dim, value)`` rows.

    The cheap pre-step before any dense-vector tier: a 64→16 projection
    cuts PQ/IVF/LSH input width 4× while approximately preserving
    pairwise distances (quality pinned in pytest). Everything is one
    narrow projection per row — codegen'd ordered left-folds over the
    vector, NO shuffle, no Python — and the matrix itself is data
    (:func:`projection_signs`), never weights to distribute.

    Engine parity: the fold is the same ordered left-fold as
    :func:`cosine_similarity_expr` (matches DuckDB's sequential list
    fold bit-for-bit); ``1/√out_dim`` is applied as a literal computed
    once in Python so both engines scale by the identical double."""
    signs = projection_signs(in_dim, out_dim, seed)
    inv = 1.0 / (out_dim**0.5)
    zero = F.lit(0.0).cast("double")
    comps = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(s) for s in signs[d]]),
                lambda x, s: x * s,
            ),
            zero,
            lambda acc, x: acc + x,
        )
        * F.lit(inv)
        for d in range(out_dim)
    ]
    src = _as_double(df, vec_col)
    if not exploded:
        # array output: feeds straight back into the LSH/IVF/PQ tiers
        # as the (id, vec) contract
        return src.select(
            F.col(id_col).alias("id"), F.array(*comps).alias("proj")
        )
    return src.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*comps)).alias("dim", "value"),
    ).select("id", F.col("dim").cast("bigint").alias("dim"), "value")


def embedding_data_card(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    quartiles: str = "exact",
) -> DataFrame:
    """The embedding-table twin of ``operators.quality
    corpus_data_card``: one call → ``(section, metric, value DOUBLE)``
    rows a vector-corpus release ships — volume (count, dim), the L2
    norm distribution (mean + exact quartiles; un-normalized vectors
    break cosine tiers silently, this is the audit that catches it),
    the centroid norm (embedding collapse / anisotropy smell: healthy
    spread ⇒ near zero, collapsed corpus ⇒ near the mean norm), and
    the label mix.

    Engine-exactness discipline: per-vector norms are ordered left-
    folds (bit-equal to DuckDB's sequential list fold); every
    cross-ROW aggregate — mean norm, per-dimension centroid sums, the
    centroid's own norm — runs through order-independent
    DECIMAL(38,12) partials, because double sums across an unordered
    corpus are partial-order-dependent.

    ``quartiles``:

    - ``"exact"`` (default, the oracle-gated spelling) — ONE cumulative
      histogram over distinct norms (the q37 shape). State is the
      DISTINCT norm count, which for real embedding corpora is
      near-corpus-sized (doubles rarely collide), so this is the
      small-SF / audit spelling.
    - ``"approx"`` — the q46 scale path: ``percentile_approx`` over the
      norm column, a bounded-memory mergeable quantile summary with no
      histogram, no sort window, and no second pass — the 100 TB
      spelling (plan-guarded in tests/test_plans.py; q46 pins the
      sketch within 1% of exact)."""
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    vecs = _as_double(df, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *( [F.col(label_col).alias("label")] if label_col else [] ),
    )
    zero = F.lit(0.0).cast("double")
    base = vecs.withColumn(
        "norm",
        F.sqrt(F.aggregate(F.col("v"), zero, lambda a, x: a + x * x)),
    ).withColumn("dim", F.size("v").cast("bigint")).cache()

    def row(section: str, metric, value) -> Column:
        metric = F.lit(metric) if isinstance(metric, str) else metric
        return F.struct(
            F.lit(section).alias("section"),
            metric.alias("metric"),
            value.cast("double").alias("value"),
        )

    scalars = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("dim").cast("bigint").alias("dim"),
        F.sum(F.col("norm").cast("decimal(38,12)")).cast("double").alias("norm_sum"),
    ).select(
        F.explode(
            F.array(
                row("volume", "n_vectors", F.col("n_vectors")),
                row("volume", "dim", F.col("dim")),
                row("norm", "mean", F.col("norm_sum") / F.col("n_vectors")),
            )
        ).alias("r")
    ).select("r.*")
    if quartiles == "exact":
        hist = base.groupBy("norm").agg(F.count(F.lit(1)).alias("c")).cache()
        w = Window.orderBy("norm").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cum = hist.withColumn("cum", F.sum("c").over(w))
        nrow = hist.agg(F.sum("c").alias("n"))
        rung = lambda p: F.min(  # noqa: E731
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("norm"))
        )
        quartile_rows = (
            cum.crossJoin(F.broadcast(nrow))
            .agg(rung(0.25).alias("p25"), rung(0.50).alias("p50"), rung(0.75).alias("p75"))
            .select(
                F.explode(
                    F.array(*[row("norm", f"p{p}", F.col(f"p{p}")) for p in (25, 50, 75)])
                ).alias("r")
            )
            .select("r.*")
        )
        card_caches: tuple[DataFrame, ...] = (base, hist)
    elif quartiles == "approx":
        pcts = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        quartile_rows = (
            base.agg(F.percentile_approx("norm", pcts, F.lit(10000)).alias("qs"))
            .select(
                F.explode(
                    F.array(
                        *[
                            row("norm", f"p{p}", F.element_at("qs", i + 1))
                            for i, p in enumerate((25, 50, 75))
                        ]
                    )
                ).alias("r")
            )
            .select("r.*")
        )
        card_caches = (base,)
    else:
        raise ValueError(f"unknown quartiles mode {quartiles!r}; use 'exact' or 'approx'")
    dimsums = (
        base.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("s"))
    )
    centroid = (
        dimsums.crossJoin(
            F.broadcast(base.agg(F.count(F.lit(1)).cast("bigint").alias("n")))
        )
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
            ).alias("centroid_norm")
        )
        .select(
            F.explode(F.array(row("geometry", "centroid_norm", F.col("centroid_norm"))))
            .alias("r")
        )
        .select("r.*")
    )
    parts = [scalars, quartile_rows, centroid]
    if label_col:
        total = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        labels = (
            base.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit("label_mix").alias("section"),
                F.col("label").cast("string").alias("metric"),
                (F.col("cnt") / F.col("n")).cast("double").alias("value"),
            )
        )
        parts.append(labels)
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return release_after(result, *card_caches)


def hashed_embeddings(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text embeddings (Weinberger et al.'s hashing
    trick): every token hashes to a bucket in ``[0, dim)`` with a
    ±1 sign from an independent hash bit, per-document bucket sums
    form a dense ``array<double>``, L2-normalized. The model-free
    bridge from the text tier to the vector tier — when no learned
    encoder is available (or affordable at 100 TB), hashed
    bag-of-words vectors give the ANN/SemDeDup/sign-LSH machinery a
    real input whose cosine approximates token-overlap similarity,
    with signs making the expectation of cross-term noise zero.

    Output: ``(id, embedding array<double>, norm)`` — ``embedding``
    is the unit vector (all-zeros kept as zeros rather than NaN: a
    cancelled-out or empty document surfaces as the zero vector, the
    honest "no signal" value).

    Scale shape: one explode into fixed-width (id, bucket, ±1) rows,
    one partial-aggregated (id, bucket) sum, then a dim-wide dense
    materialization per document via ``map_from_entries`` +
    ``transform(sequence(...))`` — pure native expressions end to
    end: no Python, no shuffle beyond the one aggregate, and every
    component (md5 bucket, sign bit, ordered normalization fold) is
    engine-replayable by a SQL oracle."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.classifier import token_bucket

    sign = F.when(
        F.conv(F.substring(F.md5(F.col("tok")), 16, 1), 16, 10).cast("bigint") % 2
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    # explode_outer + null-guarded bucket: a NULL-text document keeps
    # its single null-transition row, so every input id reaches the
    # aggregate and surfaces as the zero vector — a plain explode would
    # DROP it from the output entirely, the silent-loss failure mode
    # the short_vectors() audit exists to prevent elsewhere in this tier
    inst = df.select(
        F.col(id_col).alias("id"), F.explode_outer(tokens(text_col)).alias("tok")
    ).select(
        "id",
        F.when(
            F.col("tok").isNotNull(), token_bucket(F.col("tok"), dim)
        ).alias("bucket"),
        F.when(F.col("tok").isNotNull(), sign).alias("s"),
    )
    sums = inst.groupBy("id", "bucket").agg(
        F.sum("s").cast("double").alias("w")
    )
    dense = (
        sums.groupBy("id")
        .agg(
            F.map_from_entries(
                F.expr(
                    "filter(collect_list(struct(bucket, w)),"
                    " x -> x.bucket IS NOT NULL)"
                )
            ).alias("m")
        )
        .select(
            "id",
            F.expr(
                f"transform(sequence(0, {dim - 1}),"
                " b -> coalesce(element_at(m, cast(b AS BIGINT)), cast(0.0 AS DOUBLE)))"
            ).alias("raw"),
        )
    )
    zero = F.lit(0.0).cast("double")
    norm = F.sqrt(F.aggregate(F.col("raw"), zero, lambda a, x: a + x * x))
    return dense.select(
        "id",
        F.when(
            norm > 0, F.transform(F.col("raw"), lambda x: x / norm)
        )
        .otherwise(F.col("raw"))
        .alias("embedding"),
        norm.alias("norm"),
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the int8 member of the faiss index family
# ---------------------------------------------------------------------------


def sq_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension quantization stats for SQ8 (faiss
    ``ScalarQuantizer.QT_8bit`` semantics): ONE corpus aggregate →
    a 1-row frame ``(vmin array<double>, vmax array<double>)``.

    Scale shape: posexplode to (dim, x) fixed-width rows, min/max are
    map-side-combined partials (dim-bounded shuffle — 64 rows), the
    arrays assemble in a final 1-row aggregate. MIN/MAX select existing
    values (no arithmetic), so the stats are engine-exact by
    construction."""
    d = _as_double(corpus, vec_col).select(F.posexplode(vec_col).alias("j", "x"))
    per = d.groupBy("j").agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    return per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "vmin"))), lambda t: t["vmin"]
        ).alias("vmin"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "vmax"))), lambda t: t["vmax"]
        ).alias("vmax"),
    )


def _sq_code_expr(dim: int) -> Column:
    """codes[j] = clamp(floor((v[j]-vmin[j])·255/(vmax[j]-vmin[j])),
    0, 255) − 128, stored as a REAL int8 (tinyint) — the 4× (float32)
    / 8× (double) compression. Constant dimensions quantize to code 0.
    Every operation is exactly-specified IEEE arithmetic (sub, mul,
    div, floor), so codes are bit-identical in any engine — no libm
    surface anywhere in this tier."""
    return F.expr(
        f"""transform(sequence(1, {dim}), j -> CAST(
            CASE WHEN element_at(vmax, j) = element_at(vmin, j) THEN 0
                 ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                      CAST(floor((element_at(v, j) - element_at(vmin, j)) * 255.0D
                                 / (element_at(vmax, j) - element_at(vmin, j))) AS BIGINT)))
            END - 128 AS TINYINT))"""
    )


def sq_encode(
    df: DataFrame,
    stats: DataFrame,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to SQ8: ``(id, codes array<tinyint>)`` — dim
    bytes replace dim floats. The 1-row stats frame broadcasts (the
    stat-frame fold pattern); encoding is a single map-side projection
    over one corpus scan, no shuffle at all. No refit: new batches
    encode against yesterday's stats (the ``ivf_assign`` day-2
    contract); out-of-range components clamp to the byte edges."""
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    return (
        _as_double(df, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(stats))
        .select("id", _sq_code_expr(dim).alias("codes"))
    )


def _sq_recon_expr(dim: int) -> Column:
    """Decoded vector: recon[j] = vmin[j] + (codes[j]+128)·
    (vmax[j]-vmin[j])/255 — the same exact-IEEE inverse both engines
    replay digit-for-digit."""
    return F.expr(
        f"""transform(sequence(1, {dim}), j ->
            element_at(vmin, j)
            + (CAST(element_at(codes, j) AS DOUBLE) + 128.0D)
              * (element_at(vmax, j) - element_at(vmin, j)) / 255.0D)"""
    )


def sq_search(
    queries: DataFrame,
    codes: DataFrame,
    stats: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric top-k over SQ8 codes: decode each code array against
    the broadcast stats and rank by the ordered-fold L2² between the
    float query and the reconstruction. Output: (query_id,
    neighbor_id, rank, approx_dist), ties to the lowest id.

    Scale shape: the compressed code table is the ONLY corpus-sized
    input (the raw vectors are never read); queries and the 1-row
    stats broadcast, so the scan is shuffle-free up to the per-query
    top-k window. The fold is sequential, so the double is
    bit-identical across engines (the ``l2_sq_expr`` discipline — no
    DECIMAL partials needed because nothing re-orders the sum).

    PERSIST THE CODES (the ``pq_search`` lesson): ``codes`` is the
    index — write it once and search the stored table, or every search
    re-encodes the corpus."""
    q = F.broadcast(
        _as_double(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    # Decode ONCE PER NEIGHBOR, before the query fan-out (the oracle's
    # recon-CTE shape) — decoding inside the codes×queries projection
    # would re-run the 64-term transform per (query, neighbor) pair.
    recon = (
        codes.withColumnRenamed("id", "neighbor_id")
        .crossJoin(F.broadcast(stats))
        .select("neighbor_id", _sq_recon_expr(dim).alias("rv"))
    )
    scored = recon.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        l2_sq_expr("qv", "rv").alias("approx_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_dist")
    )


def sq_topk_rerank(
    queries: DataFrame,
    codes: DataFrame,
    stats: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production SQ8 retrieval shape (the ``pq_topk_rerank``
    twin): the compressed-domain scan SHORTLISTS ``shortlist``
    candidates per query, exact L2² over only those re-ranks the true
    top-``k``. SQ8's reconstruction error is per-dimension-bounded by
    one quantization step, so the shortlist recall is far tighter than
    PQ's at the same depth (pinned in pytest). Output: (query_id,
    neighbor_id, rank, l2_sq)."""
    cand = sq_search(
        queries, codes, stats, k=shortlist, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("l2_sq").asc(), F.col("neighbor_id"))
    return (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", l2_sq_expr("qv", "cv").alias("l2_sq"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_sq")
    )


def ivfsq_search(
    queries: DataFrame,
    index: "IvfIndex",
    codes: DataFrame,
    stats: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF,SQ8 (faiss ``IVF<nlist>,SQ8``) — the last cell of the index
    matrix next to IVF,Flat (:func:`ivf_search`) and IVF,PQ
    (:func:`ivfpq_search`): probe the ``nprobe`` nearest cells per
    query (the :class:`IvfIndex`'s cosine geometry), decode ONLY the
    probed cells' SQ8 codes against the broadcast 1-row stats — once
    per neighbor, BEFORE the query fan-out (the :func:`sq_search`
    discipline) — shortlist by the asymmetric ordered-fold L2², then,
    with ``corpus`` given, exact-L2² refine the true top-``k``.
    Output: (query_id, neighbor_id, rank, l2_sq) — or ``approx_dist``
    without refinement.

    Scale shape: the probed fraction (~nprobe/nlist) of the CODE table
    (dim int8s per vector) is all the corpus-sized data the scan
    touches; the probed-cell set is ≤ nlist rows (broadcast), the
    1-row stats broadcast, queries broadcast, so the only wide
    exchange is the per-query top-k window over candidate rows. The
    decode fold is sequential exact-IEEE arithmetic — no libm, no
    DECIMAL partials (nothing reorders the sum) — so DuckDB replays
    every digit. Persist ``codes``/``index``; nothing refits per query
    (new batches go through :func:`ivf_assign` + :func:`sq_encode`)."""
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cent_df = F.broadcast(index.centroids.select("cell", "centroid"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(cent_df)
        .select(
            "query_id", "qv", "cell",
            cosine_similarity_expr("qv", "centroid").alias("centroid_cos"),
        )
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    ).cache()  # feeds the probed-cell semi-join AND the scored join —
    # uncached, the queries×centroids crossJoin and its rank window
    # execute twice per action (the multi-consumer cache rule)
    # Decode once per member of any probed cell (a vector lives in
    # exactly one cell), never per (query, neighbor) candidate pair.
    probed_cells = probes.select("cell").distinct()
    recon = (
        index.assignments.select(F.col("id").alias("neighbor_id"), "cell")
        .join(F.broadcast(probed_cells), "cell")
        .join(codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .crossJoin(F.broadcast(stats))
        .select("cell", "neighbor_id", _sq_recon_expr(dim).alias("rv"))
    )
    scored = probes.join(recon, "cell").select(
        "query_id", "neighbor_id", l2_sq_expr("qv", "rv").alias("approx_dist")
    )
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("rank", F.row_number().over(short_w))
        .filter(F.col("rank") <= (shortlist if corpus is not None else k))
    )
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    if corpus is None:
        return release_after(
            short.select("query_id", "neighbor_id", "rank", "approx_dist"), probes
        )
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    rer_w = Window.partitionBy("query_id").orderBy(
        F.col("l2_sq").asc(), F.col("neighbor_id")
    )
    return release_after(
        short.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", l2_sq_expr("qv", "cv").alias("l2_sq"))
        .withColumn("rank", F.row_number().over(rer_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2_sq"),
        probes,
    )


def semdedup_clusters(
    corpus: DataFrame,
    nlist: int = 8,
    threshold: float = 0.9,
    max_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "IvfIndex | None" = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with the paper's CLUSTER-BOUNDED
    pairing: k-means cells bound the O(n²) — pairs only form INSIDE a
    Lloyd cell — and among each above-threshold pair the MORE-CENTRAL
    member (higher cosine to its cell centroid) is dropped, keeping
    the example that adds the most diversity (the paper's
    low-centroid-similarity keep preference), ties to the higher id.
    The LSH-candidate variant of the same shape is
    ``dedup_embedding_clean``; this is the quadratic-but-cell-bounded
    exact path. Output: one row per vector —
    (id, cell, centroid_cos, kept).

    Deterministic end to end (Lloyd build, clamped exact-fold cosines,
    declarative drop rule: a point is dropped iff it is the more-
    central member of ANY above-threshold in-cell pair — order-free,
    unlike the paper's greedy sweep), so a SQL oracle replays every
    verdict. Scale shape: the pair join is keyed by cell (the
    SemDeDup trick — shuffle partitions by cell, never a global
    self-join); hot cells are the documented skew risk and compose
    with :func:`ivf_rebalance` exactly like the search tier. The
    assignment frame is cached (pair join consumes it twice + the
    verdict output) with paired release.

    Pass a prebuilt ``index`` (persisted, or an :func:`ivf_rebalance`
    output) to skip the in-operator Lloyd build — the 100 TB posture:
    the quantizer is day-1 work amortized across runs, and the
    20× stress (SCALE.md r12) measured the in-operator build's
    O(n·nlist) assignment passes DOMINATING once nlist scales with the
    corpus, while a prebuilt index leaves only the pair join. A hot
    cell (the quadratic tail) is then mitigated by rebalancing the
    index, which splits the cell and bounds the in-cell pair volume —
    the cell geometry is part of the contract, so verdicts follow the
    rebalanced cells by design."""
    if index is None:
        index = ivf_index(
            corpus,
            nlist=nlist,
            quantizer="lloyd",
            max_iter=max_iter,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    a = ivf_assign(
        corpus, index.centroids, id_col=id_col, vec_col=vec_col, clamp=True, dim=dim
    ).cache()
    left = a.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), "cell",
        F.col("centroid_cos").alias("cs1"),
    )
    right = a.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), "cell",
        F.col("centroid_cos").alias("cs2"),
    )
    pair_cos = F.least(F.lit(1.0), cosine_similarity_expr("v1", "v2", dim=dim))
    pairs = (
        left.join(right, "cell")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cos", pair_cos)
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )
    losers = pairs.select(
        F.when(F.col("cs1") > F.col("cs2"), F.col("id1"))
        .when(F.col("cs1") < F.col("cs2"), F.col("id2"))
        .otherwise(F.greatest("id1", "id2"))
        .alias("id")
    ).distinct()
    out = (
        a.join(losers.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("bigint").alias("cell"),
            "centroid_cos",
            (~F.coalesce("_drop", F.lit(False))).alias("kept"),
        )
    )
    from auraverse_etl_pipeline_spark.operators.caching import release_after

    return release_after(out, a)
