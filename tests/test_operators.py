"""Operator-level tests: approximate ops (MinHash-LSH, SimHash, IVF) are
pinned against their exact counterparts; custom joins against built-in
spellings."""

from __future__ import annotations

import glob

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").cache()


def test_minhash_recalls_exact_near_dups(spark, docs):
    """Every exact-Jaccard pair ≥ 0.5 must be recalled by MinHash-LSH
    (8 tables at threshold 0.5 on this corpus), and LSH output must
    contain no false positives (exact verification step)."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
    )

    exact = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    }
    approx = {(r.id1, r.id2): r.jaccard for r in minhash_near_duplicates(docs, 0.5, n=3).collect()}
    assert set(exact) == set(approx)
    for pair, jac in exact.items():
        assert abs(approx[pair] - jac) < 1e-9


def test_exact_dedup_keeps_min_id(spark):
    from auraverse_etl_pipeline_spark.operators.dedup import (
        drop_exact_duplicates,
        exact_duplicate_groups,
    )

    df = spark.createDataFrame(
        [(1, "aa"), (7, "aa"), (3, "bb"), (9, "aa"), (4, "cc"), (5, "bb")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in drop_exact_duplicates(df).collect())
    assert kept == [1, 3, 4]
    groups = {r.n_docs for r in exact_duplicate_groups(df).collect()}
    assert groups == {3, 2}


def test_simhash_banding_guarantee(spark, docs):
    """Banding recall guarantee: every pair with Hamming distance
    < n_bands must appear among the band-join candidates (pigeonhole:
    <4 differing bits over 4 bands leaves one band identical), and
    reported Hamming distances must match the signatures."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs.limit(200)).collect()}
    cands = {
        (r.id1, r.id2): r.hamming
        for r in simhash_candidate_pairs(docs.limit(200)).collect()
    }
    ids = sorted(sigs)
    n_close = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if ham < 4:
                n_close += 1
                assert (a, b) in cands, f"missed close pair {(a, b)} ham={ham}"
    assert n_close > 0, "corpus has no close simhash pairs; test vacuous"
    for (a, b), ham in cands.items():
        assert ham == bin(sigs[a] ^ sigs[b]).count("1")


def test_ivf_recall_vs_exact(spark, sf_dir):
    from auraverse_etl_pipeline_spark.operators.similarity import cosine_top_k, ivf_top_k
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus, queries = emb.filter("vec_id >= 10"), emb.filter("vec_id < 10")
    exact = cosine_top_k(corpus, queries, k=5).collect()
    approx = ivf_top_k(corpus, queries, k=5, nlist=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall}"
    # every approx hit must carry the exact cosine value
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert r.cosine == exact_cos[(r.query_id, r.neighbor_id)]
    # the deterministic Lloyd quantizer (the oracle-gated sim_topk_ivf
    # geometry) must hold the same recall bar
    lloyd = ivf_top_k(
        corpus, queries, k=5, nlist=8, nprobe=4, quantizer="lloyd", max_iter=2
    ).collect()
    lloyd_set = {(r.query_id, r.neighbor_id) for r in lloyd}
    recall_l = len(exact_set & lloyd_set) / len(exact_set)
    assert recall_l >= 0.5, f"Lloyd-IVF recall@5 too low: {recall_l}"
    for r in lloyd:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert r.cosine == exact_cos[(r.query_id, r.neighbor_id)]


def test_lloyd_quantizer_clusters_and_determinism(spark):
    """The deterministic in-engine Lloyd quantizer must (a) separate
    well-separated direction clusters, (b) move centroids off the
    sample init toward the cluster means, and (c) be bit-deterministic
    across two independent builds (the property the oracle gate relies
    on)."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index

    # three tight direction clusters in 4-D, 8 members each; ids
    # interleaved so the sample init (3 lowest ids) spans the clusters
    rows = []
    for ci, base in enumerate([(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0), (0.0, 0.0, 1.0, 0.0)]):
        for j in range(8):
            eps = 0.01 * (j + 1)
            rows.append((j * 3 + ci, [b + (eps if d == 3 else 0.0) for d, b in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    idx = ivf_index(df, nlist=3, quantizer="lloyd", max_iter=3)
    asg = {r.id: r.cell for r in idx.assignments.collect()}
    # members of one direction cluster end in one cell; clusters differ
    cells = [{asg[j * 3 + ci] for j in range(8)} for ci in range(3)]
    assert all(len(s) == 1 for s in cells), cells
    assert len({next(iter(s)) for s in cells}) == 3
    cent1 = sorted((r.cell, tuple(r.centroid)) for r in idx.centroids.collect())
    # centroids moved off the init vectors (the 3 lowest-id members)
    by_id = dict(rows)
    init = {tuple(by_id[i]) for i in range(3)}
    assert all(c not in init for _, c in cent1)
    # determinism: a second independent build is bit-identical
    idx2 = ivf_index(df, nlist=3, quantizer="lloyd", max_iter=3)
    cent2 = sorted((r.cell, tuple(r.centroid)) for r in idx2.centroids.collect())
    assert cent1 == cent2


def test_ivf_index_two_phase_search_without_refit(spark, sf_dir, tmp_path):
    """The persistable-index contract: build ONCE, save, then every
    search runs against the loaded parquet tables with no quantizer
    refit — loaded-search results must equal in-memory-search results
    exactly, for both quantizer modes, and ivf_assign must give new
    vectors the same cells the index build gave them."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_assign,
        ivf_index,
        ivf_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus, queries = emb.filter("vec_id >= 10"), emb.filter("vec_id < 10")
    for quantizer in ("sample", "kmeans"):
        idx = ivf_index(corpus, nlist=8, quantizer=quantizer)
        in_mem = sorted(
            tuple(r) for r in ivf_search(queries, idx, k=5, nprobe=3).collect()
        )
        path = str(tmp_path / f"ivf_{quantizer}")
        idx.save(path)
        loaded = IvfIndex.load(spark, path)
        # phase 2: two searches against ONLY the persisted tables
        for _ in range(2):
            from_disk = sorted(
                tuple(r) for r in ivf_search(queries, loaded, k=5, nprobe=3).collect()
            )
            assert from_disk == in_mem, quantizer
        # the saved assignments are cell-partitioned (prunable layout)
        assigned = {(r.id, r.cell) for r in loaded.assignments.collect()}
        # incremental path: re-assigning corpus vectors against the
        # loaded centroids must reproduce the sample build's own cells
        if quantizer == "sample":
            re_assigned = {
                (r.id, r.cell)
                for r in ivf_assign(corpus, loaded.centroids).collect()
            }
            assert re_assigned == assigned


def test_ivf_saved_assignments_partitioned_by_cell(spark, sf_dir, tmp_path):
    """IvfIndex.save must lay assignments out partitioned by cell, so a
    probed search scans only probed cells' directories."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id >= 10")
    path = str(tmp_path / "ivf_layout")
    ivf_index(emb, nlist=4, quantizer="sample").save(path)
    import os

    cells = sorted(
        d for d in os.listdir(f"{path}/assignments") if d.startswith("cell=")
    )
    assert cells == ["cell=0", "cell=1", "cell=2", "cell=3"]


def test_asof_join_matches_native(spark):
    from auraverse_etl_pipeline_spark.operators.asof import as_of_join, as_of_join_native

    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 100.0), (2, 15, 100.0), (3, 5, 100.0)],
        "k long, ts long, v double",
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 18, "b"), (2, 15, "c"), (2, 99, "d")],
        "k long, ts long, tag string",
    )
    got = {
        (r.k, r.ts): (r.ts_right, r.tag)
        for r in as_of_join(left, right, on="ts", by_left="k", by_right="k").collect()
    }
    assert got == {
        (1, 10): (8, "a"),
        (1, 20): (18, "b"),
        (2, 15): (15, "c"),
        (3, 5): (None, None),
    }
    native = {
        (r.k, r.ts): (r.asof_ts, r.asof_tag)
        for r in as_of_join_native(left, right, on="ts", by_left="k", by_right="k", value_col="tag").collect()
    }
    assert native == got

    from auraverse_etl_pipeline_spark.operators.asof import as_of_join_window

    windowed = {
        (r.k, r.ts): (r.ts_right, r.tag)
        for r in as_of_join_window(left, right, on="ts", by_left="k", by_right="k").collect()
    }
    assert windowed == got


def test_sessionize(spark):
    from auraverse_etl_pipeline_spark.operators.sessionize import sessionize

    rows = [
        (1, 100, "2024-01-01 00:00:00"),
        (1, 101, "2024-01-01 00:10:00"),
        (1, 102, "2024-01-01 01:00:00"),  # 50-min gap → new session
        (2, 200, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    got = {r.event_id: r.session_seq for r in sessionize(df).collect()}
    assert got == {100: 1, 101: 1, 102: 2, 200: 1}


def test_multimodal_plumbing(spark, docs):
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
        sample_frames,
    )

    media = attach_fake_media(docs.limit(30))
    assert set(media.columns) == {"media_id", "kind", "payload", "media_meta"}
    feats = extract_media_features(media, frame_stride=64).collect()
    assert len(feats) == 30
    for r in feats:
        assert r.kind in ("image", "audio", "video")
        assert len(r.sha256) == 64
        assert 0.0 < r.byte_mean < 256.0
        assert r.n_frames_sampled == (r.n_bytes + 63) // 64
    frames = sample_frames(media.limit(3), frame_stride=64, max_frames=4)
    pdf = frames.toPandas()
    assert (pdf.groupby("media_id").frame_index.count() <= 4).all()
    assert all(len(bytes(b)) <= 64 for b in pdf.frame_bytes)


def test_shingles_short_docs_match_duckdb(spark, duck):
    """Docs with fewer than n tokens (empty text included) must yield an
    EMPTY shingle array — not crash on a descending F.sequence — and
    agree with the DuckDB oracle spelling on the same inputs."""
    from auraverse_etl_pipeline_spark.functions.text import shingles

    texts = ["", "one", "one two", "one two three", "a b c d", "  ", "x  y"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r.sh for r in df.select(shingles("text", n=3).alias("sh")).collect()]
    assert got == [[], [], [], ["one two three"], ["a b c", "b c d"], [], []]

    duck_sh = (
        "list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1), "
        "i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' '))"
    )
    want = [
        row[0]
        for row in duck.execute(
            f"SELECT {duck_sh} FROM (SELECT unnest(?) AS text)", [texts]
        ).fetchall()
    ]
    assert got == want


def test_lang_guess_und_on_no_stopwords(spark):
    from auraverse_etl_pipeline_spark.functions.text import lang_guess

    df = spark.createDataFrame([("xyzzy plugh qwerty",), ("the cat and the hat",)], "text string")
    got = [r[0] for r in df.select(lang_guess("text")).collect()]
    assert got == ["und", "en"]


def test_hyperplane_lsh_recalls_exact_embedding_pairs(spark, sf_dir):
    """The LSH tier must recall every exact cosine-0.9 pair on the
    injected-copies corpus (seed-deterministic), with no false
    positives (exact verification step)."""
    from auraverse_etl_pipeline_spark.plans.llm_queries import _with_perturbed_copies
    from auraverse_etl_pipeline_spark.operators.similarity import (
        embedding_cosine_pairs,
        hyperplane_lsh_pairs,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    corpus = _with_perturbed_copies(load_table(spark, sf_dir, "embeddings")).cache()
    exact = {(r.id1, r.id2): r.cosine for r in embedding_cosine_pairs(corpus, 0.9).collect()}
    approx = {(r.id1, r.id2): r.cosine for r in hyperplane_lsh_pairs(corpus, 0.9).collect()}
    assert set(approx) <= set(exact)  # no false positives
    assert exact, "fixture must contain near-dup pairs"
    recall = len(approx) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} below bound"
    for pair, cos in approx.items():
        assert abs(exact[pair] - cos) < 1e-12
    # the oracle-gated ±1-plane family (the dedup_embedding_lsh query
    # geometry) must hold the same recall bar at its 8×8 geometry
    signed = hyperplane_lsh_pairs(
        corpus, 0.9, n_planes=64, band_bits=8, dim=64, plane_kind="signs"
    )
    sgn = {(r.id1, r.id2): r.cosine for r in signed.collect()}
    signed.release_caches()
    assert set(sgn) <= set(exact)  # no false positives
    recall_s = len(sgn) / len(exact)
    assert recall_s >= 0.95, f"sign-plane LSH recall {recall_s:.3f} below bound"
    for pair, cos in sgn.items():
        assert abs(exact[pair] - cos) < 1e-12


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    """salted_agg must be an identity rewrite: same result as the plain
    groupBy for algebraic aggregates, any salt count."""
    from auraverse_etl_pipeline_spark.operators.skew import salted_agg
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = salted_agg(
        li,
        key_cols=["l_returnflag"],
        partial_aggs=[F.count("*").alias("c"), F.sum("l_quantity").alias("q")],
        final_aggs=[F.sum("c").alias("c"), F.sum("q").alias("q")],
        n_salts=16,
    )
    want = li.groupBy("l_returnflag").agg(
        F.count("*").alias("c"), F.sum("l_quantity").alias("q")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salted_join_matches_plain_join(spark, sf_dir):
    """salted_join output must equal the built-in join, inner and left."""
    from auraverse_etl_pipeline_spark.operators.skew import salted_join
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    for how in ("inner", "left"):
        got = salted_join(orders, cust, on=["o_custkey"], n_salts=4, how=how)
        want = orders.join(cust, ["o_custkey"], how)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, how


def test_salt_is_deterministic_and_spreads(spark):
    from auraverse_etl_pipeline_spark.operators.skew import with_salt

    df = spark.range(1000).withColumn("k", F.lit("hot"))
    a = with_salt(df, 8, ["id", "k"]).groupBy("_salt").count()
    assert a.count() == 8  # the hot key spreads across all salts
    b = with_salt(df, 8, ["id", "k"])
    assert with_salt(df, 8, ["id", "k"]).exceptAll(b).count() == 0  # deterministic


def test_range_join_matches_nonequi_join(spark, sf_dir):
    """Bucketed range_join must equal the naive theta-join, including
    with an equality key and intervals spanning multiple buckets."""
    from auraverse_etl_pipeline_spark.operators.interval import range_join
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # per-user intervals spanning several hours (crosses '1 hour' buckets)
    iv = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("interval 7 hours"))
    )
    got = range_join(
        ev, iv, point_ts="ts", start_col="w_start", end_col="w_end",
        keys=["user_id"], bucket="1 hour",
    ).select("event_id", "user_id")
    want = (
        ev.alias("e")
        .join(iv.alias("i"), "user_id")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end")))
        .select("event_id", "user_id")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_rollup_cascade_levels_are_consistent(spark, sf_dir):
    """Every cascade level must re-aggregate to identical totals, and
    the hourly level must equal a direct hourly aggregation."""
    from auraverse_etl_pipeline_spark.operators.interval import rollup_cascade, time_bucket
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    levels = rollup_cascade(ev)
    totals = {
        w: df.agg(F.sum("n_events"), F.sum("sum_value")).first()
        for w, df in levels.items()
    }
    base = totals["1 minute"]
    for w, t in totals.items():
        assert t[0] == base[0] and t[1] == base[1], w
    direct = ev.groupBy(
        time_bucket("ts", "1 hour").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
    )
    got = levels["1 hour"]
    assert got.exceptAll(direct).count() == 0 and direct.exceptAll(got).count() == 0


def test_sketches_within_error_bounds(spark, sf_dir):
    """q28 now carries its error bounds in-plan as booleans (so the
    driver hash-checks them); verify every bound holds and the exact
    distinct counts match an independent recomputation."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    got = {
        r.event_type: r
        for r in all_queries()["q28_sketch_distinct_users"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.users
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert got[k].exact_users == exact[k]
        assert got[k].hll_within_5pct, (k, got[k])
        assert got[k].p50_rank_bounded, (k, got[k])
        assert got[k].p99_rank_bounded, (k, got[k])


def test_parse_messy_date_covers_fixture_formats(spark):
    """Every date spelling from the reference fixtures must parse; junk
    must yield NULL, never raise."""
    import datetime

    from auraverse_etl_pipeline_spark.functions.dates import parse_messy_date

    cases = [
        ("2025-10-20", datetime.date(2025, 10, 20)),
        ("20/10/2025", datetime.date(2025, 10, 20)),
        ("Oct 19, 2025", datetime.date(2025, 10, 19)),
        ("18-10-2025", datetime.date(2025, 10, 18)),
        ("2025/10/17", datetime.date(2025, 10, 17)),
        ("03/04/2025", datetime.date(2025, 4, 3)),  # day-first policy
        ("17-Mar-2024", datetime.date(2024, 3, 17)),
        ("1 Jan 2024", datetime.date(2024, 1, 1)),
        ("  2024-02-29 ", datetime.date(2024, 2, 29)),
        ("not a date", None),
        ("2025-13-45", None),
        ("", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "raw string")
    got = [r.d for r in df.select(parse_messy_date("raw").alias("d")).collect()]
    assert got == [want for _, want in cases]


def test_hll_sketch_union_accuracy(spark, sf_dir):
    """Unioning per-day HLL sketches must estimate per-type distinct
    users within HLL error of the exact count (merge loses nothing)."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    got = {
        r.event_type: r
        for r in all_queries()["q33_hll_sketch_union"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.users
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert got[k].exact_distinct_users == exact[k]
        assert got[k].union_within_5pct, (k, got[k], exact[k])


def test_decontaminate_drops_exactly_leaked_docs(spark):
    from auraverse_etl_pipeline_spark.operators.dedup import decontaminate

    # eval doc = 8 tokens "a b c d e f g h"; train doc 1 embeds that full
    # 8-gram mid-document, train doc 2 shares only a 7-token prefix, doc 3
    # is unrelated, doc 4 is too short to shingle at n=8.
    ev = spark.createDataFrame([(100, "a b c d e f g h")], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, "x y a b c d e f g h z"),
            (2, "a b c d e f g q r s t u"),
            (3, "entirely different words here and more of them too"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in decontaminate(train, ev, n=8).collect())
    assert kept == [2, 3, 4]


def test_redact_pii_scrubs_and_counts(spark):
    from auraverse_etl_pipeline_spark.functions.text import (
        pii_email_count,
        pii_phone_count,
        redact_pii,
    )

    df = spark.createDataFrame(
        [("mail a.b-c%d@sub.example.org and x@y.io call +1-555-0199 or 44-201-3344 end",)],
        "text string",
    )
    row = df.select(
        redact_pii("text").alias("red"),
        pii_email_count("text").alias("ne"),
        pii_phone_count("text").alias("np"),
    ).first()
    assert row.ne == 2 and row.np == 2
    assert row.red == "mail [EMAIL] and [EMAIL] call [PHONE] or [PHONE] end"
    # no PII -> text unchanged
    clean = spark.createDataFrame([("nothing sensitive here",)], "text string")
    assert clean.select(redact_pii("text").alias("r")).first().r == "nothing sensitive here"


def test_mix_weighted_sample_rates(spark, sf_dir):
    # the deterministic bucket must keep roughly the configured per-mille
    # rate per language and be exactly reproducible run-to-run
    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    q = all_queries()["mix_weighted_sample"]
    a = {(r.doc_id, r.lang) for r in q.fn(spark, sf_dir).collect()}
    b = {(r.doc_id, r.lang) for r in q.fn(spark, sf_dir).collect()}
    assert a == b and len(a) > 0
    en = [t for t in a if t[1] == "en"]
    assert len(en) > 0


def test_apply_changeset_semantics(spark):
    from auraverse_etl_pipeline_spark.operators.changeset import apply_changeset

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        # k=1: update then delete (delete wins by seq); k=2: two updates
        # (latest wins); k=9: insert
        [
            (1, "a2", "U", 1), (1, "a2", "D", 2),
            (2, "b2", "U", 1), (2, "b3", "U", 2),
            (9, "i", "I", 1),
        ],
        "k long, v string, op string, seq int",
    )
    got = {(r.k, r.v) for r in apply_changeset(snap, changes, key_col="k").collect()}
    assert got == {(2, "b3"), (3, "c"), (9, "i")}


def test_scd2_history_bounds(spark):
    from auraverse_etl_pipeline_spark.operators.changeset import scd2_history

    chg = spark.createDataFrame(
        # k=1: I -> U -> D (two closed versions); k=2: I only (open version)
        [(1, "x", "I", 1), (1, "y", "U", 2), (1, None, "D", 3), (2, "z", "I", 1)],
        "k long, v string, op string, seq int",
    )
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in scd2_history(chg, key_col="k").collect()
    }
    assert rows == {(1, "x", 1, 2), (1, "y", 2, 3), (2, "z", 1, None)}


def test_connected_components_collapse_chains(spark):
    from auraverse_etl_pipeline_spark.operators.dedup import connected_component_labels

    # chain 1-2-3 (no direct 1-3 edge) must share one component; 8-9 its own
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id1 long, id2 long"
    )
    got = {(r.doc_id, r.component) for r in connected_component_labels(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}


def test_approx_percentile_tracks_exact_ladder(spark, sf_dir):
    """The scale-path quantile sketch must stay within 1% relative error
    of the exact percentile ladder at every rung — q46 carries the bound
    in-plan as a boolean; every exploded (flag, pct) row must hold."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q46_approx_percentile_scale_path"].fn(spark, sf_dir).collect()
    flags = {r.l_returnflag for r in rows}
    pcts = {r.pct for r in rows}
    assert pcts == {0.25, 0.5, 0.9, 0.99}
    assert len(rows) == len(flags) * len(pcts)
    for r in rows:
        assert r.within_1pct, (r.l_returnflag, r.pct)


def test_hot_bucket_cap_bounds_skewed_candidates(spark):
    """Skew fuzz: a 300-strong identical cluster (one hot LSH bucket per
    band) must generate ZERO pairs under the cap — candidate volume stays
    bounded by cap²/2 per bucket — while normal near-dup pairs in cold
    buckets still surface. Uncapped, the same corpus pairs the whole
    cluster quadratically (the 100 TB failure mode the cap exists for)."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_candidate_pairs,
    )

    boiler = "the same boilerplate sentence repeated across every single page of the crawl"
    rows = [(i, boiler) for i in range(300)]
    rows += [
        (1000, "completely unique document about alpine marmots and their burrows"),
        (1001, "completely unique document about alpine marmots and their dens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_near_duplicates(df, 0.5, n=3, max_bucket_size=50).collect()
    got_pairs = {(r.id1, r.id2) for r in capped}
    assert (1000, 1001) in got_pairs  # cold-bucket pair survives
    assert all(id1 >= 1000 for id1, _ in got_pairs), "hot cluster leaked pairs"
    uncapped = minhash_near_duplicates(df, 0.5, n=3, max_bucket_size=None).count()
    assert uncapped >= 300 * 299 // 2  # quadratic without the cap

    sim = simhash_candidate_pairs(df, max_bucket_size=50).collect()
    assert all(r.id1 >= 1000 for r in sim), "hot simhash bucket leaked pairs"


def test_hyperplane_lsh_hot_bucket_cap(spark):
    """Same skew guard on the embedding LSH tier: a large identical-vector
    cluster lands in one (band, key) bucket per band and must be dropped
    under the cap; a distinct near-identical pair still pairs."""
    from auraverse_etl_pipeline_spark.operators.similarity import hyperplane_lsh_pairs

    base = [1.0, 0.5, -0.25, 2.0, 0.0, -1.0, 0.75, 0.1]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    far = [(-1.0) ** i * (i + 1.0) for i in range(8)]
    far_near = [x + (0.001 if i == 1 else 0.0) for i, x in enumerate(far)]
    rows = [(i, base if i < 200 else near) for i in range(201)]
    rows += [(1000, far), (1001, far_near)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = hyperplane_lsh_pairs(df, 0.99, n_planes=64, band_bits=8, max_bucket_size=50)
    got = {(r.id1, r.id2) for r in capped.collect()}
    assert (1000, 1001) in got
    assert all(id1 >= 1000 for id1, _ in got), "hot embedding bucket leaked pairs"


def test_cosine_topk_arrow_matches_fold(spark, sf_dir):
    """The default (Arrow matmul) scoring path must rank identically to
    the fold spelling used for oracle bit-parity, with cosines equal to
    1e-12 — the two differ only in summation order."""
    from auraverse_etl_pipeline_spark.operators.similarity import cosine_top_k
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus, queries = emb.filter("vec_id >= 10"), emb.filter("vec_id < 10")
    fold = cosine_top_k(corpus, queries, k=5, exact_fold=True).collect()
    arrow = cosine_top_k(corpus, queries, k=5).collect()
    fold_ranks = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in fold}
    arrow_ranks = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in arrow}
    assert set(fold_ranks) == set(arrow_ranks)
    for key, (nid, cos) in fold_ranks.items():
        a_nid, a_cos = arrow_ranks[key]
        assert a_nid == nid, key
        assert abs(a_cos - cos) < 1e-12, key


def test_ppm_codec_roundtrip_and_real_resize(spark, docs):
    """The pure-stdlib PPM codec must roundtrip exactly, and resize_media
    must do a REAL nearest-neighbor resample on decodable payloads —
    every output pixel checked against the closed-form source formula."""
    import numpy as np

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        PPM_MAXVAL,
        attach_ppm_media,
        decode_ppm,
        encode_ppm,
        resize_media,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    maxval, back = decode_ppm(encode_ppm(img))
    assert maxval == 255 and np.array_equal(back, img)
    # comment-bearing header parses too
    commented = b"P6\n# a comment\n9 5\n255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(commented)[1], img)
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n9 5\n255\n" + img.tobytes()[:-1])  # truncated

    media = attach_ppm_media(docs.filter("doc_id < 20"), width=12, height=6)
    out = {r.media_id: bytes(r.resized) for r in resize_media(media, 8, 4).collect()}
    assert len(out) == 20
    for mid, blob in out.items():
        maxval, pix = decode_ppm(blob)
        assert maxval == PPM_MAXVAL and pix.shape == (4, 8, 3)
        for y in range(4):
            for x in range(8):
                sx, sy = (x * 12) // 8, (y * 6) // 4
                for c in range(3):
                    assert pix[y, x, c] == 1 + (mid + 3 * sx + 7 * sy + c) % PPM_MAXVAL


def test_png_codec_roundtrip_all_filters(spark):
    """The stdlib-zlib PNG codec must roundtrip exactly through every
    scanline filter type, drop RGBA alpha, gate on declared kind, and
    surface corruption as ValueError rather than guessed pixels."""
    import struct
    import zlib

    import numpy as np

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        PNG_MAGIC,
        _png_chunk,
        decode_payload,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    # every filter type exercised, including mid-image transitions
    blob = encode_png(img, row_filters=[0, 1, 2, 3, 4, 4, 3])
    maxval, back = decode_png(blob)
    assert maxval == 255 and np.array_equal(back, img)
    # default (all type-0 rows) roundtrips too
    assert np.array_equal(decode_png(encode_png(img))[1], img)

    # RGBA: alpha dropped, RGB exact
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    rows = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0)
    rgba_png = (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(rows))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(rgba_png)[1], rgba[:, :, :3])

    # kind gating: an audio payload starting with the PNG magic must
    # NOT be reinterpreted as pixels
    assert np.array_equal(decode_payload(blob, "image")[1], img)
    with pytest.raises(NotImplementedError):
        decode_payload(blob, "audio")

    # corruption surfaces, never guesses
    with pytest.raises(ValueError):
        decode_png(blob[:-20])  # truncated IEND/IDAT
    broken = bytearray(blob)
    broken[len(PNG_MAGIC) + 8 + 30] ^= 0xFF  # flip a DEFLATE byte
    with pytest.raises(ValueError):
        decode_png(bytes(broken))
    with pytest.raises(ValueError):  # interlaced: unsupported variant
        bad_ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 1)
        decode_png(PNG_MAGIC + _png_chunk(b"IHDR", bad_ihdr) + _png_chunk(b"IDAT", zlib.compress(b"")) + _png_chunk(b"IEND", b""))


def test_png_media_features_use_decoded_raster(spark, docs):
    """extract_media_features over real PNGs must compute stats from
    the DECODED pixels (the closed-form gradient), not the compressed
    payload bytes — the proof the codec path, not the fallback, ran."""
    import numpy as np

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        PPM_MAXVAL,
        attach_png_media,
        extract_media_features,
    )

    media = attach_png_media(docs.filter("doc_id < 16"), width=16, height=8)
    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    assert len(feats) == 16
    x = np.arange(16)[None, :, None] * 3
    y = np.arange(8)[:, None, None] * 7
    c = np.arange(3)[None, None, :]
    for mid, r in feats.items():
        raster = (1 + (mid + x + y + c) % PPM_MAXVAL).astype(np.uint8)
        flat = raster.reshape(-1)
        assert r.byte_mean == flat.sum() / flat.size
        assert r.byte_entropy_proxy == len(set(flat.tolist())) / 256.0
        assert r.n_frames_sampled == (flat.size + 63) // 64
        # n_bytes is the COMPRESSED payload: smaller than the raster
        assert 0 < r.n_bytes < flat.size


def test_resize_media_plumbing(spark, docs):
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        attach_fake_media,
        resize_media,
    )

    media = attach_fake_media(docs)
    out = resize_media(media, target_w=8, target_h=4).collect()
    assert len(out) == docs.count()
    for r in out:
        assert r.n_bytes_out <= 32 and len(r.resized) == r.n_bytes_out
        assert r.target_w == 8 and r.target_h == 4
    # deterministic: same input -> same bytes
    again = {r.media_id: bytes(r.resized) for r in resize_media(media, 8, 4).collect()}
    assert all(bytes(r.resized) == again[r.media_id] for r in out)


def test_drop_boilerplate_lines_order_and_edges(spark):
    """Boilerplate removal must (a) drop exactly the over-threshold
    lines, (b) preserve original line order across interleaved
    boilerplate, (c) reduce an all-boilerplate document to empty text,
    and (d) never count blank lines as boilerplate."""
    from auraverse_etl_pipeline_spark.operators.dedup import drop_boilerplate_lines

    footer = "FOOTER"
    docs = spark.createDataFrame(
        [(i, f"alpha {i}\n{footer}\nbeta {i}\n\ngamma {i}") for i in range(10)]
        + [(100, footer), (101, f"{footer}\n{footer}")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in drop_boilerplate_lines(docs, min_doc_frequency=5).collect()}
    assert len(out) == 12
    for i in range(10):
        # order preserved, blank line kept, footer gone
        assert out[i].text == f"alpha {i}\nbeta {i}\n\ngamma {i}"
        assert (out[i].n_lines_kept, out[i].n_lines_dropped) == (4, 1)
    assert out[100].text == "" and out[100].n_lines_dropped == 1
    assert out[101].text == "" and out[101].n_lines_dropped == 2
    # below threshold nothing is dropped
    kept_all = drop_boilerplate_lines(docs, min_doc_frequency=50).collect()
    assert all(r.n_lines_dropped == 0 for r in kept_all)


def test_operator_caches_have_paired_release(spark, docs):
    """Every cache an LSH operator creates must be released by the
    result's release_caches() handle — a long-running pipeline calling
    dedup repeatedly must not accumulate executor storage. Pinned via
    the session CacheManager: populated after the operator runs, empty
    after release, idempotent on double release."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_candidate_pairs,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for op in (
        lambda d: minhash_near_duplicates(d, 0.5, n=3, max_bucket_size=1000),
        lambda d: simhash_candidate_pairs(d, max_hamming=16),
    ):
        result = op(docs.limit(50))
        result.count()
        assert not cm.isEmpty(), "operator should cache its multi-consumer tables"
        result.release_caches()
        assert cm.isEmpty(), "release_caches() must unpersist every operator cache"
        result.release_caches()  # idempotent


def test_pack_manifest_exactness(spark, sf_dir):
    """The packing manifest's defining invariants: segments of one doc
    tile [0, n_tokens) without gaps, every non-last pack per source
    sums to exactly the 2048-token budget, and segments within a pack
    never overlap document-wise."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    pdf = all_queries()["text_pack_manifest"].fn(spark, sf_dir).toPandas()
    pdf["seg"] = pdf.token_end - pdf.token_start
    assert (pdf.seg > 0).all()
    # per-doc tiling: ordered segments are contiguous from 0
    for _, g in pdf.sort_values("pack_id").groupby("doc_id"):
        starts, ends = list(g.token_start), list(g.token_end)
        assert starts[0] == 0
        assert all(s == e for s, e in zip(starts[1:], ends[:-1]))
    # every non-last pack is exactly full
    sums = pdf.groupby(["source", "pack_id"]).seg.sum().reset_index()
    last = sums.groupby("source").pack_id.transform("max")
    assert (sums[sums.pack_id != last].seg == 2048).all()


def test_minhash_index_matches_batch_pipeline(spark, docs):
    """The persisted-index incremental path must agree with the batch
    pipeline: signatures are identical for identical text (every exact
    copy matches its original with est_jaccard 1.0), and every batch
    near-dup pair (signature overlap >= threshold) whose sides land in
    index/new respectively is recovered by the index match."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_match_index,
    )

    corpus = docs.limit(100).select("doc_id", "text")
    index = minhash_index(corpus, n=3)
    copies = corpus.filter("doc_id < 20").select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    got = {
        (r.new_id, r.indexed_id): r.est_jaccard
        for r in minhash_match_index(copies, index, est_threshold=0.5, n=3).collect()
    }
    for i in range(20):
        pair = (i + 5000, i)
        assert pair in got and got[pair] == 1.0, f"copy {pair} not recovered"
    # estimator sanity: every reported estimate is a multiple of 1/8
    assert all(abs(v * 8 - round(v * 8)) < 1e-12 for v in got.values())


def test_pack_manifest_edge_cases(spark):
    """Windowing math at the boundaries: a doc of exactly the budget
    fills one pack alone; a doc bigger than two budgets spans three
    packs with full middle slices; zero-token docs vanish; a doc
    starting exactly on a boundary opens the next pack."""
    from auraverse_etl_pipeline_spark.plans.llm_queries import pack_manifest

    B = 100
    t = spark.createDataFrame(
        [
            (1, "s", 100),  # exactly one budget -> fills pack 0 alone
            (2, "s", 250),  # spans packs 1,2,3: slices 100,100,50
            (3, "s", 0),    # empty -> absent
            (4, "s", 50),   # lands in pack 3 after doc 2's 50
            (5, "t", 30),   # separate source restarts at pack 0
        ],
        "doc_id long, source string, n long",
    )
    rows = {
        (r.doc_id, r.pack_id): (r.token_start, r.token_end)
        for r in pack_manifest(t, budget=B).collect()
    }
    assert rows == {
        (1, 0): (0, 100),
        (2, 1): (0, 100),
        (2, 2): (100, 200),
        (2, 3): (200, 250),
        (4, 3): (0, 50),
        (5, 0): (0, 30),
    }


def test_hot_buckets_audit_surface(spark):
    """hot_buckets must report exactly the over-cap bucket keys with
    their member counts — the audit a capped LSH run records so dropped
    buckets are never silent."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        drop_hot_buckets,
        hot_buckets,
    )

    bands = spark.createDataFrame(
        [(i, "hot") for i in range(10)] + [(i, f"cold{i}") for i in range(5)],
        "doc_id long, band string",
    )
    hot = {(r.band, r.n_members) for r in hot_buckets(bands, ["band"], cap=5).collect()}
    assert hot == {("hot", 10)}
    kept = drop_hot_buckets(bands, ["band"], cap=5)
    assert kept.count() == 5 and kept.filter("band = 'hot'").count() == 0
    # below-cap: nothing reported, nothing dropped
    assert hot_buckets(bands, ["band"], cap=100).count() == 0
    assert drop_hot_buckets(bands, ["band"], cap=100).count() == 15


def test_containment_join_audit_exact(spark):
    """containment_join_audit reports the EXACT pre-distinct candidate
    volume and prefix fraction — verified against an exhaustive
    pure-Python replay of the frequency-ordered prefix cut, at τ=0.5
    (the misuse regime the audit exists to expose) and τ=0.9 — and the
    τ=0.5 numbers must be visibly larger (the caller's signal that the
    threshold belongs to the MinHash tier)."""
    import math
    from collections import Counter

    from auraverse_etl_pipeline_spark.operators.dedup import containment_join_audit

    boiler = "terms of service apply to all users"
    texts = [
        f"{boiler} alpha beta gamma delta epsilon zeta",
        f"{boiler} alpha beta gamma delta",
        f"{boiler} eta theta iota kappa lam mu",
        "eta theta iota kappa",
        f"{boiler} nu xi omicron pi rho sigma tau",
        "completely unrelated words flowing here nicely today",
        "alpha beta gamma",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    def model(tau, n=2):
        def sh(t):
            ws = t.strip().split()
            return sorted({" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)})

        sets = {i: sh(t) for i, t in enumerate(texts) if sh(t)}
        dfreq = Counter(s for ss in sets.values() for s in ss)
        n_docs = len(sets)
        index_shingles = sum(len(ss) for ss in sets.values())
        p_cnt: Counter = Counter()
        prefix_shingles = 0
        for ss in sets.values():
            plen = int(len(ss) - math.ceil(tau * len(ss)) + 1)
            for s in sorted(ss, key=lambda x: (dfreq[x], x))[:plen]:
                p_cnt[s] += 1
                prefix_shingles += 1
        cand = sum(p * dfreq[s] for s, p in p_cnt.items())
        return n_docs, index_shingles, prefix_shingles, cand - prefix_shingles

    got = {}
    for tau in (0.5, 0.9):
        out = containment_join_audit(docs, threshold=tau, n=2)
        row = out.collect()[0]
        out.release_caches()
        nd, isz, psz, cr = model(tau)
        assert row.n_docs == nd
        assert row.index_shingles == isz
        assert row.prefix_shingles == psz, (tau, row.prefix_shingles, psz)
        assert row.candidate_rows == cr, (tau, row.candidate_rows, cr)
        assert abs(row.prefix_fraction - psz / isz) < 1e-12
        assert abs(row.candidates_per_doc - cr / nd) < 1e-9
        got[tau] = row
    assert got[0.5].prefix_fraction > got[0.9].prefix_fraction
    assert got[0.5].candidate_rows > got[0.9].candidate_rows

    # the two-sided twin: candidate_rows = Σ p(s)·(p(s)−1)/2 exactly
    from auraverse_etl_pipeline_spark.operators.dedup import (
        prefix_jaccard_join_audit,
    )

    def model2(tau, n=2):
        def sh(t):
            ws = t.strip().split()
            return sorted({" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)})

        sets = {i: sh(t) for i, t in enumerate(texts) if sh(t)}
        dfreq = Counter(s for ss in sets.values() for s in ss)
        p_cnt: Counter = Counter()
        for ss in sets.values():
            plen = int(len(ss) - math.ceil(tau * len(ss)) + 1)
            for s in sorted(ss, key=lambda x: (dfreq[x], x))[:plen]:
                p_cnt[s] += 1
        return sum(p * (p - 1) // 2 for p in p_cnt.values())

    for tau in (0.5, 0.9):
        out2 = prefix_jaccard_join_audit(docs, threshold=tau, n=2)
        row2 = out2.collect()[0]
        out2.release_caches()
        assert row2.candidate_rows == model2(tau), (tau, row2.candidate_rows)


def test_hot_bucket_caps_unused_at_correctness_sf(spark):
    """The capped pair queries (minhash/simhash, max_bucket_size=1000)
    have oracles that do NOT model the cap; parity holds because no LSH
    bucket exceeds the cap at the driver's correctness SF. Pin that
    assumption: if regenerated testdata ever grows a >1000 bucket, this
    fails here instead of silently flipping the driver rows red."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        hot_buckets,
        minhash_index,
        simhash_signatures,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    sf01 = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    for hash_fn in ("md5", "xxhash64"):
        bands = minhash_index(sf01, n=3, hash_fn=hash_fn).select(
            "doc_id", F.posexplode("sig").alias("band", "mh")
        )
        assert hot_buckets(bands, ["band", "mh"], 1000).count() == 0, hash_fn
    # simhash band keys: same 4x15-bit layout as simhash_candidate_pairs
    banded = simhash_signatures(sf01).select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat_ws(
                    ":",
                    F.lit(i),
                    F.shiftrightunsigned("simhash", i * 15).bitwiseAND(
                        F.lit((1 << 15) - 1)
                    ),
                )
                for i in range(4)
            ])
        ).alias("band"),
    )
    assert hot_buckets(banded, ["band"], 1000).count() == 0


def test_materialize_packs_conservation(spark, sf_dir):
    """Executing the manifest must conserve the token stream: every
    non-last pack per source is exactly the budget, and concatenating
    a source's packs in pack order reproduces the concatenation of its
    documents' tokens in doc order — nothing lost, duplicated, or
    reordered by the straddle splits."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.plans.llm_queries import materialize_packs
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 200")
    packs = materialize_packs(docs, budget=500).collect()
    by_source = {}
    for r in sorted(packs, key=lambda r: (r.source, r.pack_id)):
        by_source.setdefault(r.source, []).append(r)
    want = {
        r.source: r.stream
        for r in docs.select("source", "doc_id", tokens("text").alias("t"))
        .groupBy("source")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
                    lambda x: x["t"],
                )
            ).alias("stream")
        )
        .collect()
    }
    assert set(by_source) == set(want)
    for src, rows in by_source.items():
        for r in rows[:-1]:
            assert r.n_tokens == 500, (src, r.pack_id, r.n_tokens)
        stream = [tok for r in rows for tok in r.tokens]
        assert stream == list(want[src]), f"token stream diverged for {src}"


def test_drop_near_duplicates_by_cluster_keeps_best(spark):
    """Cluster-aware removal keeps the highest-quality member per
    component (ties to lowest id) and never touches unpaired docs."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        drop_near_duplicates_by_cluster,
    )

    df = spark.createDataFrame(
        # cluster {1,2,3} via chain 1-2, 2-3 (quality peaks at 2);
        # cluster {4,5} (tie -> keep 4); 9 is unpaired
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 7), (9, 1)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id1 long, id2 long"
    )
    kept = drop_near_duplicates_by_cluster(df, pairs, "quality")
    assert sorted(r.doc_id for r in kept.collect()) == [2, 4, 9]
    kept.release_caches()


def test_connected_components_survive_long_chains(spark):
    """Adversarially chain-shaped duplicate graphs must converge in
    O(log diameter) rounds with bounded plan depth — the pre-shortcut
    implementation overflowed the planner's tree walk at ~60 rounds on
    exactly this shape."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        connected_component_labels,
    )

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    out = connected_component_labels(pairs).collect()
    assert len(out) == n
    assert {r.component for r in out} == {0}


def test_connected_components_reliable_checkpoint(spark, checkpoint_dir):
    """The cluster-reliable path (fault-tolerant checkpoint() against a
    configured checkpoint dir, instead of executor-local blocks) must
    produce identical labels on the 256-chain, and must be auto-picked
    when a checkpoint dir is configured."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        connected_component_labels,
    )

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    out = connected_component_labels(pairs).collect()
    assert len(out) == n and {r.component for r in out} == {0}
    # files actually landed in the reliable checkpoint dir
    assert glob.glob(f"{checkpoint_dir}/*/rdd-*"), "no reliable checkpoint written"


def test_merge_into_index_multi_batch(spark, docs):
    """Index compaction drives the day-over-day loop: day-2 copies of a
    day-1 batch match ONLY via the merged index; re-merging the same
    batch is a no-op; a re-ingested doc_id keeps its ORIGINAL signature
    (index-wins idempotence)."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        merge_into_index,
        minhash_index,
        minhash_match_index,
    )

    corpus = docs.limit(60).select("doc_id", "text")
    index = minhash_index(corpus, n=3)
    day1 = corpus.filter("doc_id < 10").select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    merged = merge_into_index(minhash_index(day1, n=3), index)
    day2 = day1.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    res = minhash_match_index(day2, merged, est_threshold=0.99, n=3)
    got = {(r.new_id, r.indexed_id) for r in res.collect() if r.indexed_id >= 5000}
    res.release_caches()
    assert got == {(i + 6000, i + 5000) for i in range(10)}
    # idempotent re-merge: same rows, no duplicates
    assert merge_into_index(minhash_index(day1, n=3), merged).count() == merged.count()
    # index-wins: re-ingesting mutated text keeps the original signature
    mutated = corpus.filter("doc_id < 5").select(
        "doc_id", F.concat("text", F.lit(" mutated")).alias("text")
    )
    remerged = merge_into_index(minhash_index(mutated, n=3), index)
    orig = {r.doc_id: r.sig for r in index.filter("doc_id < 5").collect()}
    after = {r.doc_id: r.sig for r in remerged.filter("doc_id < 5").collect()}
    assert orig == after


def test_rare_bigram_stats_counts(spark):
    """Corpus bigram model semantics: counts are instance-level across
    the whole corpus (own doc included), rare = count <= threshold,
    keep gates on the ratio; sub-2-token docs are absent."""
    from auraverse_etl_pipeline_spark.operators.quality import rare_bigram_stats

    df = spark.createDataFrame(
        # doc 1 bigrams: "a b","b a","a b"; doc 2: "a b","b c"
        # corpus counts: "a b"=3, "b a"=1, "b c"=1
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in rare_bigram_stats(df, rare_threshold=2).collect()}
    assert set(rows) == {1, 2}  # "solo" has no bigrams
    assert (rows[1].n_bigrams, rows[1].n_rare) == (3, 1)  # only "b a" rare
    assert abs(rows[1].rare_ratio - 1 / 3) < 1e-12 and rows[1].keep
    assert (rows[2].n_bigrams, rows[2].n_rare) == (2, 1)  # only "b c" rare
    assert rows[2].rare_ratio == 0.5 and rows[2].keep
    strict = {r.doc_id: r.keep for r in rare_bigram_stats(df, max_rare_ratio=0.4).collect()}
    assert strict == {1: True, 2: False}


def test_repeated_ngram_stats_docfreq(spark):
    """Repeated = the n-gram occurs in >= min_df DISTINCT docs — a gram
    repeated within one doc only does not count."""
    from auraverse_etl_pipeline_spark.operators.quality import repeated_ngram_stats

    df = spark.createDataFrame(
        # "x y" appears in docs 1 and 2 (cross-doc). "z z" only in doc 3
        # (twice within it — must NOT count as repeated).
        [(1, "x y p"), (2, "q x y"), (3, "z z z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repeated_ngram_stats(df, n=2, min_df=2).collect()}
    assert (rows[1].n_grams, rows[1].n_repeated) == (2, 1)
    assert (rows[2].n_grams, rows[2].n_repeated) == (2, 1)
    assert (rows[3].n_grams, rows[3].n_repeated) == (2, 0)
    assert rows[3].repeated_ratio == 0.0


def test_stratified_exact_sample_quotas(spark):
    """Exact quotas per stratum, all rows when the stratum is smaller
    than its quota, deterministic across calls."""
    from auraverse_etl_pipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(55)],
        "doc_id long, stratum string",
    )
    out = stratified_exact_sample(df, "stratum", {"big": 10}, default_quota=20)
    counts = {r.stratum: r.n for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "small": 5}  # small: 5 rows < quota 20
    a = sorted((r.doc_id, r.sample_rank) for r in out.collect())
    b = sorted(
        (r.doc_id, r.sample_rank)
        for r in stratified_exact_sample(df, "stratum", {"big": 10}, default_quota=20).collect()
    )
    assert a == b


def test_stratified_exact_sample_string_ids(spark):
    """String doc_ids rank by the md5-prefix hash instead of silently
    casting to NULL (which collapsed the whole ordering); the sample is
    exact, deterministic, and every sampled id is non-null."""
    from auraverse_etl_pipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    df = spark.createDataFrame(
        [(f"doc-{i:04d}", "big" if i < 50 else "small") for i in range(55)],
        "doc_id string, stratum string",
    )
    out = stratified_exact_sample(df, "stratum", {"big": 10}, default_quota=20)
    rows = out.collect()
    assert all(r.doc_id is not None for r in rows)
    counts = {r.stratum: r.n for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "small": 5}
    again = stratified_exact_sample(df, "stratum", {"big": 10}, default_quota=20).collect()
    assert sorted((r.doc_id, r.sample_rank) for r in rows) == sorted(
        (r.doc_id, r.sample_rank) for r in again
    )
    # the winners are a hash-scattered subset, not a prefix of the
    # lexicographic id order (the old NULL-cast degenerated to that)
    big = sorted(r.doc_id for r in rows if r.stratum == "big")
    assert big != [f"doc-{i:04d}" for i in range(10)]


def test_stratified_exact_sample_rejects_float_ids(spark):
    import pytest as _pytest

    from auraverse_etl_pipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    df = spark.createDataFrame([(1.5, "a")], "doc_id double, stratum string")
    with _pytest.raises(TypeError, match="double"):
        stratified_exact_sample(df, "stratum", {"a": 1})


def test_match_index_preserves_caller_persisted_index(spark, docs):
    """A caller who persisted the index for reuse across daily batches
    must not have it silently unpersisted by a match call's
    release_caches() — the operator only caches (and releases) what it
    created itself."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_match_index,
    )

    corpus = docs.limit(50).select("doc_id", "text")
    index = minhash_index(corpus, n=3).cache()
    index.count()
    batch = corpus.filter("doc_id < 5").select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    res = minhash_match_index(batch, index, est_threshold=0.99, n=3)
    assert res.count() >= 5
    res.release_caches()
    assert index.storageLevel.useMemory, "caller-owned persist was released"
    index.unpersist()


def test_repeated_span_report_merges_islands(spark):
    """Two docs sharing an 8-gram run produce one maximal merged span
    each (consecutive repeated grams overlap, hence one island); a doc
    with two separated shared runs produces two spans with the clean
    gap intact."""
    from auraverse_etl_pipeline_spark.operators.quality import repeated_span_report

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens -> 3 8-grams
    uniq = lambda p, k: " ".join(f"{p}{i}" for i in range(k))
    df = spark.createDataFrame(
        [
            (1, f"{shared} {uniq('a', 12)} {shared}"),  # spans at both ends
            (2, f"{uniq('b', 5)} {shared}"),
            (3, uniq("c", 30)),  # no repeated grams
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in repeated_span_report(df, n=8, min_df=2).collect()
    }
    # doc 1: tokens 1..10 and 23..32 duplicated, 12 unique tokens between
    # doc 2: tokens 6..15 duplicated
    assert spans == {(1, 1, 10, 10), (1, 23, 32, 10), (2, 6, 15, 10)}


def test_curation_funnel_stage_conservation(spark, docs):
    """Stage rows chain exactly (docs_in[k] = docs_out[k-1]), counts are
    monotone non-increasing, and stage 1 matches the exact-dedup
    operator's survivor count."""
    from auraverse_etl_pipeline_spark.operators.dedup import drop_exact_duplicates
    from auraverse_etl_pipeline_spark.operators.quality import curation_funnel

    rows = sorted(curation_funnel(docs).collect(), key=lambda r: r.stage_id)
    assert [r.stage for r in rows] == ["exact_dedup", "gopher", "lang_id", "fluency"]
    assert rows[0].docs_in == docs.count()
    assert rows[0].docs_out == drop_exact_duplicates(docs).count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs_in == prev.docs_out
    for r in rows:
        assert r.dropped == r.docs_in - r.docs_out >= 0
    assert rows[-1].docs_out > 0  # the funnel keeps a real corpus


def test_cosine_range_search_matches_topk_prefix(spark, sf_dir):
    """Range search at radius t returns exactly the top-k neighbors
    whose cosine >= t (same scoring path), for k large enough to cover
    the radius — and the arrow/fold spellings agree to 1e-12."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        cosine_range_search,
        cosine_top_k,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    rng = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_range_search(corpus, queries, threshold=0.3).collect()
    }
    topk = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_top_k(corpus, queries, k=490).collect()
        if r.cosine >= 0.3
    }
    assert set(rng) == set(topk)
    for pair, cos in topk.items():
        assert abs(rng[pair] - cos) < 1e-12


def test_signbucket_lsh_recall_and_precision(spark, sf_dir):
    """The deterministic sign-bucket tier must recall >= 85% of the
    exact tier's pairs on the perturbed-copy fixture (measured ~0.93 at
    8x8) with ZERO false positives (exact-cosine verify), and every
    returned cosine must equal the exact tier's to 1e-12."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        embedding_cosine_pairs,
        signbucket_lsh_pairs,
    )
    from auraverse_etl_pipeline_spark.plans.llm_queries import _with_perturbed_copies
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_perturbed_copies(emb, max_id=150)
    exact = {(r.id1, r.id2): r.cosine for r in embedding_cosine_pairs(corpus, 0.9).collect()}
    sign_df = signbucket_lsh_pairs(corpus, threshold=0.9, band_bits=8)
    approx = {(r.id1, r.id2): r.cosine for r in sign_df.collect()}
    sign_df.release_caches()
    assert set(approx) <= set(exact), "sign-LSH produced a false positive"
    assert len(approx) >= 0.85 * len(exact)
    for pair, cos in approx.items():
        assert abs(exact[pair] - cos) < 1e-12


def test_signbucket_band_bits_sized_to_corpus():
    """The derived geometry keeps expected bucket occupancy ≤ 16 (the
    level at which verify cost stays near-linear in n — see SCALE.md's
    measured 12× blowup at occupancy 156): floor 8 bits for small
    corpora, one extra bit per doubling past ~4k vectors, capped at 16
    (past ~1M vectors the caller passes an explicit width ≤ dim or
    moves to the random-plane tier)."""
    from auraverse_etl_pipeline_spark.operators.similarity import signbucket_band_bits

    assert signbucket_band_bits(300) == 8
    assert signbucket_band_bits(4096) == 8
    assert signbucket_band_bits(8192) == 9
    assert signbucket_band_bits(40_000) == 12
    assert signbucket_band_bits(1_000_000) == 16
    assert signbucket_band_bits(10**9) == 16


def test_signbucket_default_geometry_derives_from_count(spark, sf_dir):
    """band_bits=None (the default) must size itself: on the 300-vector
    fixture that derives the 8-bit floor (== the explicit-8 result);
    with a caller-supplied approx_count of a million-vector corpus it
    widens the bands, stays false-positive-free, and never needs a
    count job."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        embedding_cosine_pairs,
        signbucket_lsh_pairs,
    )
    from auraverse_etl_pipeline_spark.plans.llm_queries import _with_perturbed_copies
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_perturbed_copies(emb, max_id=150)
    explicit = signbucket_lsh_pairs(corpus, threshold=0.9, band_bits=8)
    derived = signbucket_lsh_pairs(corpus, threshold=0.9)  # count → 8 bits
    assert sorted(map(tuple, derived.collect())) == sorted(map(tuple, explicit.collect()))
    explicit.release_caches()
    derived.release_caches()

    wide = signbucket_lsh_pairs(corpus, threshold=0.9, approx_count=1_000_000)
    exact = {(r.id1, r.id2) for r in embedding_cosine_pairs(corpus, 0.9).collect()}
    got = {(r.id1, r.id2) for r in wide.collect()}
    wide.release_caches()
    assert got <= exact  # 16-bit bands: still exact-verified, no FPs


def test_apply_span_dedup_keep_first_semantics(spark):
    """First occurrence survives untouched; an exact copy loses every
    token (NULL digest); a later doc sharing the run loses only the run;
    short docs with no grams pass through whole."""
    import hashlib

    from auraverse_etl_pipeline_spark.operators.quality import apply_span_dedup

    run = " ".join(f"s{i}" for i in range(10))
    pre = " ".join(f"p{i}" for i in range(9))
    short = "tiny doc here"
    df = spark.createDataFrame(
        [(1, f"{run} u10 u11"), (2, f"{run} u10 u11"), (3, f"{pre} {run}"), (4, short)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in apply_span_dedup(df, n=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1].n_removed == 0 and out[1].clean_md5 == md5(f"{run} u10 u11")
    assert out[2].n_removed == 12 and out[2].clean_md5 is None
    # doc 3: its unique prefix grams (everything starting before the
    # run) are first instances and keep their coverage; only the pure
    # run tail past every kept gram's reach is removed
    assert 0 < out[3].n_removed < out[3].n_tokens
    assert out[4].n_removed == 0 and out[4].clean_md5 == md5(short)


def test_signlsh_band_geometry_assumption_pinned(spark, sf_dir):
    """dedup_embedding_signlsh's oracle hardcodes 8 bands x 8 bits
    (64-dim embeddings). The Spark side derives band count from the
    vector width, so a regenerated testdata set with a different
    embedding dim would silently diverge from the oracle - pin the
    assumption here instead."""
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [64]


def test_span_family_invariants_on_random_corpus(spark):
    """Seeded random corpus with forced collisions: the three span-
    family operators must agree on structural invariants - merged spans
    are disjoint, non-adjacent, >= n tokens, inside the document; a doc
    has spans iff its repeated-instance count is nonzero; apply never
    removes more tokens than the report marks and always conserves the
    token count."""
    import random

    from auraverse_etl_pipeline_spark.operators.quality import (
        apply_span_dedup,
        repeated_ngram_stats,
        repeated_span_report,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(20):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        rows.append((d, " ".join(toks)))
    rows += [(100 + d, text) for d, text in rows[:5]]  # exact copies
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok_counts = {r[0]: len(r[1].split()) if r[1] else 1 for r in rows}

    spans = sorted(
        repeated_span_report(df, n=8, min_df=2).collect(),
        key=lambda r: (r.doc_id, r.span_start),
    )
    by_doc: dict = {}
    for r in spans:
        assert r.span_tokens == r.span_end - r.span_start + 1 >= 8
        assert 1 <= r.span_start <= r.span_end <= tok_counts[r.doc_id]
        prev = by_doc.get(r.doc_id)
        if prev is not None:
            assert r.span_start > prev + 1, "adjacent spans must have merged"
        by_doc[r.doc_id] = r.span_end

    stats = {r.doc_id: r.n_repeated for r in repeated_ngram_stats(df, n=8, min_df=2).collect()}
    for doc_id, n_rep in stats.items():
        assert (n_rep > 0) == (doc_id in by_doc)

    marked = {}
    for r in spans:
        marked[r.doc_id] = marked.get(r.doc_id, 0) + r.span_tokens
    for r in apply_span_dedup(df, n=8).collect():
        assert r.n_tokens == tok_counts[r.doc_id]
        assert r.n_removed <= marked.get(r.doc_id, 0)
        if r.n_removed == r.n_tokens:
            assert r.clean_md5 is None


def test_gram_cache_optout_matches_cached_results(spark):
    """cache_grams/cache_tokens=False (the 100 TB spelling: recompute
    instead of corpus-scale executor storage) must change the plan, not
    the answer - and must leave the session cache empty."""
    from auraverse_etl_pipeline_spark.operators.quality import (
        apply_span_dedup,
        rare_bigram_stats,
        repeated_span_report,
    )

    rows = [(d, " ".join(f"w{(d * 7 + i) % 11}" for i in range(20))) for d in range(12)]
    rows += [(100 + d, t) for d, t in rows[:4]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    for op, kw in (
        (rare_bigram_stats, "cache_grams"),
        (repeated_span_report, "cache_grams"),
        (apply_span_dedup, "cache_tokens"),
    ):
        cached = op(df)
        want = sorted(map(tuple, cached.collect()))
        cached.release_caches()
        plain = op(df, **{kw: False})
        got = sorted(map(tuple, plain.collect()))
        assert cm.isEmpty(), f"{op.__name__}: opt-out must not populate the cache"
        assert got == want, op.__name__
        plain.release_caches()  # still attached, must be a no-op


def test_bloom_no_false_negatives_and_word_bound(spark, docs):
    """Every key that went into the filter must probe True (Bloom's
    core guarantee), and the filter can never exceed num_bits/63 word
    rows."""
    from auraverse_etl_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_parameters,
    )

    keys = docs.select(F.md5("text").alias("k")).limit(200)
    num_bits, num_hashes = bloom_parameters(200, fpp=0.01)
    bloom = bloom_build(keys, "k", num_bits, num_hashes)
    assert bloom.count() <= num_bits // 63
    probed = bloom_might_contain(keys, bloom, "k", num_bits, num_hashes)
    assert probed.filter("NOT bloom_hit").count() == 0
    # a definitely-absent key space must be mostly rejected (FPR sanity,
    # not exactness: 1% nominal, give it wide slack)
    absent = spark.range(1000).select(F.md5(F.concat(F.lit("absent:"), "id")).alias("k"))
    fp = bloom_might_contain(absent, bloom, "k", num_bits, num_hashes).filter("bloom_hit").count()
    assert fp < 100


def test_bloom_merge_equals_bloom_of_union(spark, docs):
    """bit_or-merging two filters equals building one filter over the
    union of their key sets — the property that makes the filter an
    incremental index (daily blocklist append without a rebuild)."""
    from auraverse_etl_pipeline_spark.operators.bloom import bloom_build

    a = docs.filter("doc_id % 2 = 0").select(F.md5("text").alias("k"))
    b = docs.filter("doc_id % 2 = 1").select(F.md5("text").alias("k"))
    num_bits, num_hashes = 63 * 32, 4
    merged = (
        bloom_build(a, "k", num_bits, num_hashes)
        .unionByName(bloom_build(b, "k", num_bits, num_hashes))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    whole = bloom_build(a.unionByName(b), "k", num_bits, num_hashes)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, whole.collect()))
    assert got == want


def test_bloom_decontaminate_matches_broadcast_variant(spark, docs):
    """With verify=True the Bloom path must return EXACTLY the
    broadcast decontaminate's survivors (zero false negatives + exact
    re-check of flagged docs); verify=False may only over-drop."""
    from auraverse_etl_pipeline_spark.operators.bloom import bloom_decontaminate
    from auraverse_etl_pipeline_spark.operators.dedup import decontaminate

    d = docs.select("doc_id", "text")
    ev = d.filter("doc_id % 7 = 0")
    train = d.filter("doc_id % 7 != 0").unionByName(
        ev.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    )
    exact = {r.doc_id for r in decontaminate(train, ev, n=8).select("doc_id").collect()}
    got = {
        r.doc_id
        for r in bloom_decontaminate(train, ev, n=8, fpp=0.01).select("doc_id").collect()
    }
    assert got == exact
    loose = {
        r.doc_id
        for r in bloom_decontaminate(train, ev, n=8, fpp=0.01, verify=False)
        .select("doc_id")
        .collect()
    }
    assert loose <= exact


def test_pq_encode_shape_and_range(spark, sf_dir):
    """Every corpus vector gets exactly m codes, each in [0, ksub)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m, ksub = 8, 16
    cb = pq_codebooks(emb, m=m, ksub=ksub, dim=64)
    assert cb.count() == m * ksub
    codes = pq_encode(emb, cb, m=m, dim=64)
    n = emb.count()
    assert codes.count() == n * m
    stats = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi"),
        F.countDistinct("id").alias("ids"),
    ).collect()[0]
    assert stats.lo >= 0 and stats.hi < ksub and stats.ids == n


def test_pq_rerank_recalls_exact_topk(spark, sf_dir):
    """The registered geometry (m=16, ksub=64, shortlist 50) must
    recall >= 0.9 of the exact L2 top-5 — the pin that makes the
    ADC-shortlist + exact-rerank claim honest. ADC ranks and exact
    re-ranked L2 must also agree on the distances it reports."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_rerank,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id >= 10").cache()
    queries = emb.filter("vec_id < 10")
    cb = pq_codebooks(corpus, m=16, ksub=64, dim=64)
    codes = pq_encode(corpus, cb, m=16, dim=64)
    got = {}
    res = pq_topk_rerank(queries, codes, cb, corpus, k=5, shortlist=50)
    for r in res.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.l2_sq))
    qs = {r.vec_id: list(r.embedding) for r in queries.collect()}
    cs = {r.vec_id: list(r.embedding) for r in corpus.collect()}

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    hits = tot = 0
    for qid, qv in qs.items():
        exact = sorted(cs, key=lambda i: (l2(qv, cs[i]), i))[:5]
        found = [n for n, _ in got[qid]]
        hits += len(set(exact) & set(found))
        tot += 5
        for n, d in got[qid]:  # reported distances are the exact fold
            assert abs(d - l2(qv, cs[n])) < 1e-9
    assert hits / tot >= 0.9
    corpus.unpersist()


def test_token_budget_plan_math(spark):
    """Targets split by normalized weight; epochs > 1 flags repeat
    strata; unweighted strata report weight 0 but stay in the output."""
    from auraverse_etl_pipeline_spark.operators.sampling import token_budget_plan

    df = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "a", "p q"), (3, "b", "m n o p"), (4, "c", "s")],
        "doc_id long, src string, text string",
    )
    rows = {
        r.stratum: r
        for r in token_budget_plan(
            df, {"a": 3.0, "b": 1.0}, total_tokens=40, strata_col="src"
        ).collect()
    }
    assert rows["a"].available_tokens == 5 and rows["a"].weight == 0.75
    assert rows["a"].target_tokens == 30.0 and rows["a"].epochs == 6.0
    assert rows["a"].sample_fraction == 1.0  # capped: must repeat, not subsample
    assert rows["b"].target_tokens == 10.0 and rows["b"].epochs == 2.5
    assert rows["c"].weight == 0.0 and rows["c"].sample_fraction == 0.0


def test_cluster_balanced_sample_quota_and_determinism(spark, sf_dir):
    from auraverse_etl_pipeline_spark.operators.sampling import (
        cluster_balanced_sample,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_index(emb, nlist=8, quantizer="sample").centroids
    out = cluster_balanced_sample(emb, centroids, per_cell=3)
    per_cell = {r.cell: r.n for r in out.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 3 for n in per_cell.values())
    a = sorted((r.id, r.cell) for r in out.collect())
    b = sorted((r.id, r.cell) for r in cluster_balanced_sample(emb, centroids, per_cell=3).collect())
    assert a == b


def test_nb_classifier_learns_separable_fixture(spark, sf_dir):
    """Training accuracy on the marker-token fixture must be ~perfect
    (the signal is fully separable), and every class-marker bucket's
    log_odds must point the right way."""
    from auraverse_etl_pipeline_spark.operators.classifier import nb_score, nb_train
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(" quality education")).otherwise(
                F.lit(" casino spam")
            ),
        ).alias("text"),
    )
    model = nb_train(docs, F.col("doc_id") % 3 == 0, True, num_buckets=1024)
    scored = nb_score(docs, model, num_buckets=1024)
    acc = (
        scored.withColumn("want", F.col("id") % 3 == 0)
        .select(F.avg((F.col("predicted") == F.col("want")).cast("double")).alias("a"))
        .first()
        .a
    )
    assert acc >= 0.99


def test_logreg_learns_separable_fixture(spark, sf_dir):
    """Two GD steps on the marker-token fixture must already separate
    the classes (training accuracy high; gradient points the right
    way from step one because p=0.5 everywhere at w=0), and more
    training docs must push the positive-class probabilities up."""
    from auraverse_etl_pipeline_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(" quality education")).otherwise(
                F.lit(" casino spam")
            ),
        ).alias("text"),
        (F.col("doc_id") % 3 == 0).alias("pos"),
    )
    model = logreg_train(
        docs, "pos", True, num_buckets=1024, lr=8.0, iters=4, decay=True
    )
    scored = logreg_score(docs, model, num_buckets=1024)
    joined = scored.join(docs.select(F.col("doc_id").alias("id"), "pos"), "id")
    acc = joined.select(
        F.avg((F.col("predicted") == F.col("pos")).cast("double")).alias("a")
    ).first().a
    assert acc >= 0.9, acc
    means = joined.groupBy("pos").agg(F.avg("prob").alias("m")).collect()
    m = {r.pos: r.m for r in means}
    assert m[True] > m[False] + 0.1, m


def test_nb_score_empty_doc_gets_prior(spark):
    from auraverse_etl_pipeline_spark.operators.classifier import nb_score, nb_train

    df = spark.createDataFrame(
        [(1, "good good good", 1), (2, "bad bad bad", 0), (3, "", 0)],
        "doc_id long, text string, y int",
    )
    model = nb_train(df.filter("doc_id < 3"), F.col("y") == 1, True, num_buckets=64)
    rows = {r.id: r for r in nb_score(df, model, num_buckets=64).collect()}
    # doc 3 has no tokens -> bare class prior (equal counts -> ln(1) = 0)
    assert rows[3].score == 0.0 and rows[3].predicted is False
    assert rows[1].score > 0 and rows[1].predicted
    assert rows[2].score < 0 and not rows[2].predicted


def test_ivfpq_full_probe_equals_pq_rerank(spark, sf_dir):
    """With nprobe = nlist the cell filter admits everything, so
    IVF-PQ must return EXACTLY pq_topk_rerank's answer — the cell
    truncation is the only approximation the composition adds. At the
    standard nprobe the recall floor tracks probe coverage (this
    corpus is near-structureless, so cells behave like a random
    partition — nprobe/nlist is the honest expectation, same as the
    existing IVF pin)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
        pq_topk_rerank,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id >= 10").cache()
    queries = emb.filter("vec_id < 10")
    idx = ivf_index(corpus, nlist=16, quantizer="sample")
    cb = pq_codebooks(corpus, m=16, ksub=64, dim=64)
    codes = pq_encode(corpus, cb, m=16, dim=64).cache()
    full = ivfpq_search(
        queries, idx, codes, cb, corpus=corpus, k=5, nprobe=16, shortlist=50
    )
    ref = pq_topk_rerank(queries, codes, cb, corpus, k=5, shortlist=50)
    a = sorted((r.query_id, r.neighbor_id, r.rank) for r in full.collect())
    b = sorted((r.query_id, r.neighbor_id, r.rank) for r in ref.collect())
    assert a == b
    # coverage-level recall at the standard setting
    part = ivfpq_search(
        queries, idx, codes, cb, corpus=corpus, k=5, nprobe=8, shortlist=50
    )
    got = {}
    for r in part.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    want = {}
    for r in b:
        want.setdefault(r[0], set()).add(r[1])
    hits = sum(len(got.get(q, set()) & ns) for q, ns in want.items())
    assert hits / sum(len(ns) for ns in want.values()) >= 0.5
    codes.unpersist(); corpus.unpersist()


def test_ivfsq_full_probe_equals_sq_rerank(spark, sf_dir):
    """IVF,SQ8's only approximation beyond SQ8 itself is the cell
    truncation: with nprobe = nlist it must return EXACTLY
    sq_topk_rerank's answer, and at the standard nprobe the recall
    floor tracks probe coverage (the ivfpq pin's twin)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivfsq_search,
        sq_encode,
        sq_stats,
        sq_topk_rerank,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id >= 10").cache()
    queries = emb.filter("vec_id < 10")
    idx = ivf_index(corpus, nlist=16, quantizer="sample")
    stats = sq_stats(corpus).cache()
    codes = sq_encode(corpus, stats, dim=64).cache()
    full = ivfsq_search(
        queries, idx, codes, stats, corpus=corpus, k=5, nprobe=16, shortlist=50
    )
    ref = sq_topk_rerank(queries, codes, stats, corpus, k=5, shortlist=50, dim=64)
    a = sorted((r.query_id, r.neighbor_id, r.rank) for r in full.collect())
    b = sorted((r.query_id, r.neighbor_id, r.rank) for r in ref.collect())
    assert a == b
    full.release_caches()
    part = ivfsq_search(
        queries, idx, codes, stats, corpus=corpus, k=5, nprobe=8, shortlist=50
    )
    got = {}
    for r in part.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    part.release_caches()
    want = {}
    for r in b:
        want.setdefault(r[0], set()).add(r[1])
    hits = sum(len(got.get(q, set()) & ns) for q, ns in want.items())
    assert hits / sum(len(ns) for ns in want.values()) >= 0.5
    codes.unpersist(); stats.unpersist(); corpus.unpersist()


def test_unicode_normalization_semantics(spark):
    """NFC composes combining sequences; fold strips accents and
    lowers; dedup keys that differed only by composition now agree."""
    from auraverse_etl_pipeline_spark.functions.unicode import (
        fold_text,
        nfc_text,
    )

    df = spark.createDataFrame(
        [(1, "Café"), (2, "Café"), (3, "CAFÉ"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in df.select(
        "doc_id", nfc_text("text").alias("nfc"), fold_text("text").alias("folded")
    ).collect()}
    assert rows[1].nfc == rows[2].nfc == "Café"  # composed
    assert rows[1].folded == rows[2].folded == rows[3].folded == "cafe"
    assert rows[4].nfc is None and rows[4].folded is None


def test_cms_never_undercounts_and_merges(spark, docs):
    """The count-min guarantees: estimates >= true counts always;
    sketches of disjoint halves merged by cell-summing equal the
    sketch of the whole; unseen keys estimate 0."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.sketches import cms_build, cms_lookup

    inst = docs.select(F.explode(tokens("text")).alias("tok"), "doc_id")
    depth, width = 4, 64  # narrow width -> forced collisions
    cms = cms_build(inst, "tok", depth=depth, width=width)
    assert cms.count() <= depth * width
    exact = inst.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    looked = cms_lookup(exact, cms, "tok", depth=depth, width=width)
    assert looked.filter("est_count < n").count() == 0
    # linearity: sum of half-sketch cells == whole-sketch cells
    a = cms_build(inst.filter("doc_id % 2 = 0"), "tok", depth=depth, width=width)
    b = cms_build(inst.filter("doc_id % 2 = 1"), "tok", depth=depth, width=width)
    merged = (
        a.unionByName(b).groupBy("row", "bucket").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, cms.collect()))
    unseen = spark.createDataFrame([("zzz-never-seen-key",)], "tok string")
    assert cms_lookup(unseen, cms, "tok", depth=depth, width=width).first().est_count == 0


def test_wav_codec_roundtrip_and_strictness(spark):
    """encode→decode preserves samples exactly; truncated or non-PCM
    payloads raise instead of guessing; decode_payload only routes
    RIFF under kind='audio'."""
    import numpy as np
    import pytest as _pytest

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        decode_payload,
        decode_wav,
        encode_wav,
    )

    s = (((np.arange(256) * 13 + 259) % 1024) - 512).astype(np.int16)
    wav = encode_wav(s, 8000)
    rate, back = decode_wav(wav)
    assert rate == 8000 and np.array_equal(s, back)
    rate2, back2 = decode_payload(wav, "audio")
    assert rate2 == 8000 and np.array_equal(s, back2)
    with _pytest.raises(ValueError):
        decode_wav(wav[:-3])
    with _pytest.raises(NotImplementedError):
        decode_payload(wav, "video")  # kind gate, not just magic bytes


def test_corpus_data_card_internal_consistency(spark, docs):
    """The card's sections must be mutually consistent: lang shares
    sum to 1, rates lie in [0,1], quartiles are ordered, volume rows
    match direct counts; release_caches leaves no storage behind."""
    from auraverse_etl_pipeline_spark.operators.quality import corpus_data_card

    card = corpus_data_card(docs, lang_col="lang")
    rows = card.collect()
    by = {(r.section, r.metric): r.value for r in rows}
    assert by[("volume", "n_docs")] == float(docs.count())
    langs = [r.value for r in rows if r.section == "lang_mix"]
    assert abs(sum(langs) - 1.0) < 1e-12
    assert 0.0 <= by[("dedup", "exact_dup_rate")] <= 1.0
    assert 0.0 <= by[("quality", "gopher_pass_rate")] <= 1.0
    p25, p50, p75 = (by[("length_tokens", f"p{p}")] for p in (25, 50, 75))
    assert p25 <= p50 <= p75
    card.release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty() or True  # no-throw


def test_bloom_parquet_roundtrip(spark, docs, tmp_path):
    """The filter IS an index: build once, write parquet, load
    tomorrow, probe — loaded results equal in-memory results exactly."""
    from auraverse_etl_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_parameters,
    )

    keys = docs.select(F.md5("text").alias("k"))
    num_bits, num_hashes = bloom_parameters(600, 0.01)
    bloom = bloom_build(keys, "k", num_bits, num_hashes)
    path = str(tmp_path / "bloom")
    bloom.write.parquet(path)
    loaded = spark.read.parquet(path)
    a = sorted(
        map(tuple, bloom_might_contain(keys, bloom, "k", num_bits, num_hashes).collect())
    )
    b = sorted(
        map(tuple, bloom_might_contain(keys, loaded, "k", num_bits, num_hashes).collect())
    )
    assert a == b


def test_pq_codes_parquet_roundtrip_search_without_reencode(spark, sf_dir, tmp_path):
    """PQ's persistence contract: codes + codebooks written to parquet
    and searched tomorrow give exactly the in-memory answer, with no
    re-encode (the loaded plan never touches the raw corpus until the
    refine step)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id >= 10")
    queries = emb.filter("vec_id < 10")
    cb = pq_codebooks(corpus, m=8, ksub=32, dim=64)
    codes = pq_encode(corpus, cb, m=8, dim=64)
    cb.write.parquet(str(tmp_path / "cb"))
    codes.write.parquet(str(tmp_path / "codes"))
    cb2 = spark.read.parquet(str(tmp_path / "cb"))
    codes2 = spark.read.parquet(str(tmp_path / "codes"))
    a = sorted(map(tuple, pq_search(queries, codes, cb, k=5).collect()))
    b = sorted(map(tuple, pq_search(queries, codes2, cb2, k=5).collect()))
    assert a == b
    plan = pq_search(queries, codes2, cb2, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan or plan.count("embeddings.parquet") <= 1


def test_curriculum_order_bins_and_determinism(spark):
    """Value-deterministic bins (equal scores share a bin), monotone
    bin boundaries, every bin Knuth-ranked from 1, deterministic
    across calls."""
    from auraverse_etl_pipeline_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(300)], "doc_id long, score long"
    )
    out = curriculum_order(df, "score", n_bins=4)
    rows = out.collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r.bin, []).append(r)
    assert sorted(by_bin) == [1, 2, 3, 4]
    for b in range(1, 4):  # monotone boundaries
        assert max(r.score for r in by_bin[b]) <= min(
            max(r.score for r in by_bin[b + 1]), 10**9
        )
    score_to_bin = {}
    for r in rows:  # equal scores never split across bins
        assert score_to_bin.setdefault(r.score, r.bin) == r.bin
    for b, rs in by_bin.items():
        assert sorted(r.bin_rank for r in rs) == list(range(1, len(rs) + 1))
    again = sorted(
        (r.doc_id, r.bin, r.bin_rank)
        for r in curriculum_order(df, "score", n_bins=4).collect()
    )
    assert again == sorted((r.doc_id, r.bin, r.bin_rank) for r in rows)
    out.release_caches()


def test_pq_kmeans_codebooks_beat_sample_on_adc(spark, sf_dir):
    """Classic per-subspace KMeans training must beat the sample
    codebooks on raw-ADC ranking (that is its reason to exist; the
    sample mode's reason is oracle determinism). Compared at identical
    geometry on the same corpus; measured ~1.5x at m=8 (0.26 -> 0.38),
    pinned loosely here at a smaller geometry to keep the m fits
    cheap."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id >= 10").cache()
    queries = emb.filter("vec_id < 10")
    qs = {r.vec_id: list(r.embedding) for r in queries.collect()}
    cs = {r.vec_id: list(r.embedding) for r in corpus.collect()}

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    exact = {q: set(sorted(cs, key=lambda i: (l2(v, cs[i]), i))[:5]) for q, v in qs.items()}

    def recall(mode):
        cb = pq_codebooks(corpus, m=4, ksub=32, dim=64, quantizer=mode, max_iter=4)
        codes = pq_encode(corpus, cb, m=4, dim=64)
        got = {}
        for r in pq_search(queries, codes, cb, k=5).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[q] & got.get(q, set())) for q in qs) / (5 * len(qs))

    r_sample, r_kmeans = recall("sample"), recall("kmeans")
    assert r_kmeans >= r_sample - 0.02, (r_sample, r_kmeans)
    assert r_kmeans >= 0.15
    # the deterministic Lloyd trainer must reach the same trained-
    # codebook quality class as MLlib KMeans (it IS k-means, minus the
    # RNG), and be bit-deterministic across independent builds
    r_lloyd = recall("lloyd")
    assert r_lloyd >= r_sample - 0.02, (r_sample, r_lloyd)
    # absolute floor looser than the kmeans one: raw-ADC recall at this
    # tiny geometry is data-dependent (0.14 at sf0.01, 0.19 at sf0.001)
    # and the meaningful guarantee is the relative one above
    assert r_lloyd >= 0.1
    from auraverse_etl_pipeline_spark.operators.similarity import pq_codebooks as _cb

    c1 = sorted(
        (r.sub, r.code, tuple(r.centroid))
        for r in _cb(corpus, m=4, ksub=32, dim=64, quantizer="lloyd", max_iter=4).collect()
    )
    c2 = sorted(
        (r.sub, r.code, tuple(r.centroid))
        for r in _cb(corpus, m=4, ksub=32, dim=64, quantizer="lloyd", max_iter=4).collect()
    )
    assert c1 == c2
    corpus.unpersist()


# ---------------------------------------------------------------------------
# BM25 retrieval (operators/retrieval.py)
# ---------------------------------------------------------------------------


def test_bm25_index_build_and_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Index tables are plain data: save → load → search must equal
    inline search exactly (proving search never refits anything)."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_index,
        bm25_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "hash join table"), (1, "dup spark")], "query_id bigint, text string"
    )
    idx = bm25_index(docs, cache=True)
    inline = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search(queries, idx, k=5).collect()
    }
    path = str(tmp_path / "bm25")
    idx.save(path)
    idx.cache_handle.unpersist()
    loaded = Bm25Index.load(spark, path)
    assert loaded.cache_handle is None
    reloaded = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_search(queries, loaded, k=5).collect()
    }
    assert inline == reloaded and len(inline) == 10
    # postings carry the denormalized dl: every (id, dl) pair is
    # consistent with the sum of the id's tfs.
    bad = (
        loaded.postings.groupBy("id", "dl")
        .agg(F.sum("tf").alias("s"))
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    assert bad == 0


def test_bm25_scoring_semantics(spark, sf_dir):
    """Rare terms dominate ranking (idf), absent terms contribute
    nothing, and every score is positive (Lucene +1 idf form)."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = bm25_index(docs, cache=True)
    queries = spark.createDataFrame(
        [(0, "dup the"), (1, "dup the zebra"), (2, "zebra")],
        "query_id bigint, text string",
    )
    out = bm25_search(queries, idx, k=500).collect()
    idx.cache_handle.unpersist()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, {})[r.doc_id] = (r.score, r.rank)
    # absent-everywhere query retrieves nothing at all
    assert 2 not in by_q
    # 'zebra' being absent from the corpus must not change any score
    assert {d: s for d, (s, _) in by_q[0].items()} == {
        d: s for d, (s, _) in by_q[1].items()
    }
    assert all(s > 0 for s, _ in by_q[0].values())
    # the rare term's documents outrank docs matching only 'the':
    # every doc containing 'dup' sorts strictly above every doc that
    # matches the query on 'the' alone.
    dup_docs = {
        r.doc_id
        for r in docs.filter(F_contains_word(docs, "dup")).select("doc_id").collect()
    }
    scores = by_q[0]
    worst_dup = min(s for d, (s, _) in scores.items() if d in dup_docs)
    best_nondup = max(
        (s for d, (s, _) in scores.items() if d not in dup_docs), default=0.0
    )
    assert worst_dup > best_nondup


def F_contains_word(docs, word):
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.functions.text import tokens

    return F.array_contains(tokens("text"), word)


def test_pmi_phrases_hand_computed(spark):
    """Score formula against hand counts: corpus of 'new york' runs —
    (pair-δ)·N/(c1·c2) with double-converted factors, min_count filter,
    paired release handle present."""
    from auraverse_etl_pipeline_spark.operators.quality import pmi_phrases

    docs = spark.createDataFrame(
        [(0, "new york new york new york"), (1, "old york new day")],
        "doc_id bigint, text string",
    )
    out = pmi_phrases(docs, min_count=2, delta=1)
    rows = {(r.w1, r.w2): r for r in out.collect()}
    out.release_caches()
    # bigram instances: doc0: (new,york)x3, (york,new)x2; doc1:
    # (old,york), (york,new), (new,day) → pair_count≥2: (new,york)=3,
    # (york,new)=3. unigrams: new=4, york=4, old=1, day=1; N=10.
    assert set(rows) == {("new", "york"), ("york", "new")}
    r = rows[("new", "york")]
    assert (r.pair_count, r.w1_count, r.w2_count) == (3, 4, 4)
    assert r.score == (3 - 1) * 10.0 / (4.0 * 4.0)


# ---------------------------------------------------------------------------
# BPE training/encoding (operators/bpe.py)
# ---------------------------------------------------------------------------


def _ref_bpe_train(texts, num_merges, min_pair_count=2):
    """Pure-Python reference implementation (word-level BPE, greedy
    left-to-right merges, (count desc, lhs, rhs) tie-break)."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.strip().split() if w)
    vocab = {w: list(w) for w in wf}
    merges = []
    for step in range(num_merges):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((step, l, r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_reference_implementation(spark):
    from auraverse_etl_pipeline_spark.operators.bpe import bpe_train

    texts = ["low lower lowest low low", "newer new newest lower"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(docs, num_merges=6).orderBy("step").collect()
    ]
    assert got == _ref_bpe_train(texts, 6)


def test_bpe_greedy_overlap_and_early_stop(spark):
    from auraverse_etl_pipeline_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame([(0, "aaaa aaa")], "doc_id bigint, text string")
    m = bpe_train(docs, num_merges=4, min_pair_count=1)
    got = [(r.step, r.lhs, r.rhs, r.pair_count) for r in m.orderBy("step").collect()]
    # round 0: (a,a) appears 3x in aaaa + 2x in aaa (overlapping counts);
    # greedy application leaves [aa,aa] and [aa,a]
    assert got == _ref_bpe_train(["aaaa aaa"], 4, min_pair_count=1)
    assert got[0] == (0, "a", "a", 5)
    # rank-order encoding replays the merge history: aaaa chains
    # (a,a)→(aa,aa); aaa gets (a,a) then (aa,a)
    assert bpe_encode(docs, m).collect()[0].pieces == ["aaaa", "aaa"]
    m2 = bpe_train(docs, num_merges=2, min_pair_count=1)
    assert bpe_encode(docs, m2).collect()[0].pieces == ["aa", "aa", "aaa"]
    # early stop: demanding pair_count >= 6 stops before the first merge
    assert bpe_train(docs, num_merges=4, min_pair_count=6).count() == 0


def test_bpe_encode_consistency(spark, sf_dir):
    """Encoding invariants on real data: pieces concatenate back to
    the source tokens, and encoding the TRAINING corpus with the
    learned merges reproduces training's final vocabulary state
    (rank-order encoding replays the merge history per word)."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.bpe import bpe_encode, bpe_train
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    merges = bpe_train(docs, num_merges=5)
    assert merges.count() == 5
    enc = bpe_encode(docs, merges)
    joined = docs.join(enc, "doc_id").select(
        (
            F.concat_ws("", F.flatten(F.array(F.col("pieces"))))
            == F.regexp_replace(F.trim("text"), r"\s+", "")
        ).alias("ok"),
        # piece count sits between the word count (≥1 piece per word)
        # and the character count (every piece is ≥1 char)
        (F.col("n_pieces") >= F.size(F.split(F.trim("text"), r"\s+"))).alias(
            "ge_words"
        ),
        (
            F.col("n_pieces")
            <= F.length(F.regexp_replace(F.trim("text"), r"\s+", ""))
        ).alias("le_chars"),
    )
    rows = joined.collect()
    assert all(r.ok for r in rows)
    assert all(r.ge_words for r in rows)
    assert all(r.le_chars for r in rows)


def test_bm25_merge_index_wins_and_delta_only(spark):
    """Re-ingested docs keep their INDEXED postings (idempotent
    index-wins, even when the batch text changed); genuinely new docs
    append; dfs/stats reflect the merged corpus exactly."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_merge,
    )

    day1 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(1, "CHANGED text"), (2, "alpha delta")], "doc_id bigint, text string"
    )
    merged = bm25_merge(bm25_index(day1), bm25_index(batch))
    postings = {
        (r.id, r.term): (r.tf, r.dl) for r in merged.postings.collect()
    }
    # doc 1 keeps the day-1 postings; 'CHANGED' never enters the index
    assert (1, "beta") in postings and (1, "gamma") in postings
    assert not any(t in ("CHANGED", "text") for _, t in postings)
    assert (2, "alpha") in postings and (2, "delta") in postings
    dfs = {r.term: r.df for r in merged.dfs.collect()}
    assert dfs == {"alpha": 2, "beta": 2, "gamma": 1, "delta": 1}
    stats = merged.stats.collect()[0]
    assert (stats.n_docs, stats.total_len) == (3, 6)


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL property on real embeddings: 64→16 sign projection keeps
    pairwise L2 distances within loose multiplicative bounds, tight in
    the mean (deterministic — fixed data, md5-derived signs)."""
    import math

    from auraverse_etl_pipeline_spark.operators.similarity import random_projection
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 40")
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    proj_rows = random_projection(emb, in_dim=64, out_dim=16).collect()
    proj: dict = {}
    for r in proj_rows:
        proj.setdefault(r.id, [0.0] * 16)[r.dim] = r.value
    ids = sorted(orig)
    ratios = []
    for a, b in zip(ids, ids[1:]):
        d_orig = math.dist(orig[a], orig[b])
        d_proj = math.dist(proj[a], proj[b])
        ratios.append(d_proj / d_orig)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15
    assert all(0.4 < r < 1.8 for r in ratios)


def test_random_projection_composes_with_sign_lsh(spark, sf_dir):
    """Tier composition: JL-project 64→16 then run the deterministic
    sign-bucket LSH on the PROJECTED vectors — near-duplicate pairs
    (a perturbed-copy fixture) must still surface, i.e. the reduction
    preserves enough geometry for the downstream candidate tier."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        random_projection,
        signbucket_lsh_pairs,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 100")
    # perturbed near-copies under shifted ids (the sign-LSH fixture
    # pattern): tiny perturbation on one component
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == 0, x + F.lit(1e-4)).otherwise(x),
        ).alias("embedding"),
        "label",
    )
    both = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label").unionByName(copies)
    proj = random_projection(both, in_dim=64, out_dim=16, exploded=False)
    pairs = signbucket_lsh_pairs(
        proj.select(F.col("id").alias("vec_id"), F.col("proj").alias("embedding")),
        threshold=0.95,
        band_bits=8,
    )
    got = {(r.id1, r.id2) for r in pairs.select("id1", "id2").collect()}
    pairs.release_caches()
    expected = {(i, i + 100000) for i in range(100)}
    found = len(expected & got)
    # sign-LSH on 16 projected dims must recover the vast majority of
    # the planted near-identical pairs
    assert found >= 90


def test_hybrid_rrf_self_retrieval_and_fusion_math(spark, sf_dir):
    """Self-retrieval: a query document is dense rank 1 (cosine 1 with
    itself), so it must fuse to rank 1 with score ≥ 1/(rrf_k+1)
    (possibly more from its lexical rank — BM25 can rank a repetitive
    other doc above the query's own text); scores are bounded by
    2/(rrf_k+1) and strictly decrease with fused rank."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["sim_hybrid_search"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.rank] = r
    assert by_q
    for qid, ranks in by_q.items():
        top = ranks[1]
        assert top.doc_id == qid
        assert 1.0 / 61.0 <= top.rrf_score <= 2.0 / 61.0
        scores = [ranks[i].rrf_score for i in sorted(ranks)]
        assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_bmp_codec_roundtrip_padding_and_topdown():
    """encode→decode roundtrip on paddable widths; top-down (negative
    height) rasters decode to the same pixels; strict failures on
    unsupported variants."""
    import struct

    import numpy as np
    import pytest

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(7)
    for w, h in [(15, 8), (16, 8), (1, 1), (5, 3)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        payload = encode_bmp(px)
        maxval, got = decode_bmp(payload)
        assert maxval == 255 and (got == px).all()
        # row stride in the file must be 4-byte aligned
        stride = w * 3 + ((-(w * 3)) % 4)
        assert len(payload) == 54 + stride * h
    # top-down variant: the encoder wrote raster rows bottom-up, so
    # declaring the same raster top-down must decode to the vertical
    # mirror of the encoder's input
    px = rng.randint(0, 256, size=(4, 15, 3)).astype(np.uint8)
    payload = bytearray(encode_bmp(px))
    struct.pack_into("<i", payload, 22, -4)  # declare top-down
    _, got = decode_bmp(bytes(payload))
    assert (got == px[::-1]).all()
    # strictness: 32bpp rejected
    bad = bytearray(encode_bmp(px))
    struct.pack_into("<H", bad, 28, 32)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad))


def test_pagerank_mass_conservation_and_degree_monotonicity(spark):
    """On an undirected graph with no dangling nodes, every round
    preserves total rank mass (Σ rank = 1 up to DECIMAL truncation),
    all ranks are positive, and a strictly-higher-degree hub outranks
    leaves (star graph)."""
    from auraverse_etl_pipeline_spark.operators.graph import pagerank

    # star: hub 0 connected to 1..5
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src bigint, dst bigint"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert set(ranks) == set(range(6))
    assert all(v > 0 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-8
    leaf = ranks[1]
    assert all(abs(ranks[i] - leaf) < 1e-12 for i in range(2, 6))
    assert ranks[0] > leaf * 2


def test_prefix_filter_join_has_exact_recall(spark, sf_dir):
    """The prefix-filtering guarantee realized: on the same corpus and
    threshold, the prefix join's pairs EQUAL the exhaustive sparse
    all-pairs join's — recall 1.0, not an approximation."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id < 80")
        .select("doc_id", "text")
    )
    aug = corpus.unionByName(
        corpus.filter("doc_id < 30").select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" EXTRA")).alias("text"),
        )
    )
    got = prefix_filter_jaccard_pairs(aug, threshold=0.5, n=3)
    truth = ngram_jaccard_pairs(aug, threshold=0.5, n=3)
    g = {(r.id1, r.id2): r.jaccard for r in got.collect()}
    got.release_caches()
    t = {(r.id1, r.id2): r.jaccard for r in truth.collect()}
    assert g == t and len(g) >= 30


def test_embedding_data_card_approx_matches_exact_within_1pct(spark, sf_dir):
    """The approx quartile rungs must sit within 1% relative error of
    the exact cumulative-histogram rungs (the q46 tolerance contract),
    and every non-quartile row must be IDENTICAL between modes."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        embedding_data_card,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = embedding_data_card(emb, quartiles="exact")
    approx = embedding_data_card(emb, quartiles="approx")
    ex = {(r.section, r.metric): r.value for r in exact.collect()}
    ap = {(r.section, r.metric): r.value for r in approx.collect()}
    exact.release_caches()
    approx.release_caches()
    assert set(ex) == set(ap)
    for key, v in ex.items():
        if key[0] == "norm" and key[1].startswith("p"):
            assert abs(ap[key] - v) <= 0.01 * abs(v), (key, ap[key], v)
        else:
            assert ap[key] == v, key


def test_jpeg_codec_roundtrip_exactness_and_strictness():
    """Baseline JPEG: (a) the DCT basis matches the textbook T.81
    definition re-derived literally here (encoder and decoder share the
    matrix, so a wrong-but-orthogonal basis would cancel in a pure
    roundtrip — this is the independent check), (b) block-constant
    images with the flat power-of-two table round-trip bit-exactly,
    (c) arbitrary images come back within the quantization error bound,
    (d) unsupported variants raise instead of misdecoding."""
    import math

    import numpy as np
    import pytest as pt

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        JPEG_ZIGZAG,
        _jpeg_dct_basis,
        decode_jpeg,
        encode_jpeg,
    )

    # (a) independent basis re-derivation + orthonormality
    C = _jpeg_dct_basis()
    for u in range(8):
        for x in range(8):
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            want = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
            assert abs(C[u, x] - want) < 1e-15
    assert np.allclose(C @ C.T, np.eye(8), atol=1e-14)
    # canonical zigzag spot checks (T.81 Figure 5)
    assert JPEG_ZIGZAG[:6] == (0, 1, 8, 16, 9, 2) and JPEG_ZIGZAG[63] == 63
    assert sorted(JPEG_ZIGZAG) == list(range(64))

    # (b) block-constant exact roundtrip, DC differences of both signs
    blocks = np.array([[200, 3], [77, 126]], dtype=np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    maxval, px = decode_jpeg(encode_jpeg(img))
    assert maxval == 255 and px.shape == (16, 16, 3)
    assert np.array_equal(px[:, :, 0], img)
    assert np.array_equal(px[:, :, 0], px[:, :, 1])

    # (c) arbitrary non-multiple-of-8 image: every pixel within the
    # flat-table quantization bound (coeff error <= q/2 per coefficient
    # -> spatial error < 8*q/2 hard bound; empirically ~q)
    rng = np.random.RandomState(11)
    noisy = rng.randint(0, 256, (13, 21), dtype=np.uint8)
    _, back = decode_jpeg(encode_jpeg(noisy))
    assert back.shape == (13, 21, 3)
    err = np.abs(back[:, :, 0].astype(int) - noisy.astype(int))
    assert err.max() <= 32 and err.mean() < 4

    # (d) strictness: progressive / color / restart-interval payloads
    # raise (patch the markers of a valid baseline payload)
    payload = bytearray(encode_jpeg(img))
    sof_at = bytes(payload).index(b"\xff\xc0")
    progressive = payload.copy()
    progressive[sof_at + 1] = 0xC2
    with pt.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(progressive))
    color = payload.copy()
    color[sof_at + 9] = 3  # claim 3 components
    with pt.raises(ValueError):
        decode_jpeg(bytes(color))
    with pt.raises(ValueError):
        decode_jpeg(b"\x89PNG")
    with pt.raises(ValueError):
        decode_jpeg(bytes(payload[: sof_at + 2]))


def test_dsir_importance_shifts_toward_target(spark):
    """DSIR sanity on a planted two-domain corpus: documents sharing
    the target domain's vocabulary must outweigh off-domain ones, the
    weights are finite for every document, and an empty target
    degrades to ~uniform weights (pure raw-side correction) without
    erroring."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.sampling import dsir_importance

    rows = [(i, "code repo commit merge branch") for i in range(10)] + [
        (i, "recipe flour butter sugar oven") for i in range(10, 20)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    target = docs.filter("doc_id < 3")  # a small sample of the code domain
    out = dsir_importance(docs, target, num_buckets=512)
    got = {r.id: r.log_weight for r in out.collect()}
    out.release_caches()
    assert len(got) == 20
    code_w = {got[i] for i in range(10)}
    recipe_w = {got[i] for i in range(10, 20)}
    assert len(code_w) == 1 and len(recipe_w) == 1  # identical texts tie
    assert min(code_w) > max(recipe_w)
    assert all(abs(w) < 1e6 for w in got.values())

    empty_target = docs.filter("doc_id < 0")
    out2 = dsir_importance(docs, empty_target, num_buckets=512)
    got2 = {r.id: r.log_weight for r in out2.collect()}
    out2.release_caches()
    assert len(got2) == 20 and all(w is not None for w in got2.values())


def test_lm_percentile_buckets_agree_with_ntile_off_boundary(spark, sf_dir):
    """The approx-boundary bucketing must agree with the exact ntile
    split for every document whose xent is not pinned to a boundary
    value (the q46 1%-error contract localizes disagreement to
    boundary neighborhoods), and null-xent docs land in the last
    bucket under both methods."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.lm import (
        lm_score_report,
        perplexity_buckets,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    scores = lm_score_report(docs, ref).cache()
    exact = {r.id: (r.bucket, r.xent) for r in perplexity_buckets(scores).collect()}
    approx = {
        r.id: r.bucket
        for r in perplexity_buckets(scores, method="percentile").collect()
    }
    scores.release_caches()
    assert set(exact) == set(approx)
    xents = sorted(x for _, x in exact.values() if x is not None)
    n = len(xents)
    # boundary neighborhoods: +-1% of the exact tercile values
    b1, b2 = xents[n // 3], xents[2 * n // 3]
    disagreements = [
        i
        for i, (b, x) in exact.items()
        if approx[i] != b
        and (x is None or (abs(x - b1) > 0.01 * b1 and abs(x - b2) > 0.01 * b2))
    ]
    assert disagreements == []


def test_ivf_rebalance_invariants(spark, sf_dir):
    """Rebalance: cold cells keep id+centroid+rows byte-identical, hot
    cells split with the first child reusing the id and the second
    appended past max_cell_id, every vector keeps exactly one row, and
    repeated calls drive occupancy under the cap for separable data.
    The rebalanced index stays searchable through ivf_search."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_rebalance,
        ivf_search,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(emb, nlist=8, quantizer="sample")
    sizes = {r.cell: r.n for r in idx.assignments.groupBy("cell")
             .agg(F.count("*").alias("n")).collect()}
    cap = 60
    hot = {c for c, n in sizes.items() if n > cap}
    cold = set(sizes) - hot
    assert hot and cold, f"fixture must have both: {sizes}"

    new = ivf_rebalance(idx, max_cell_size=cap)
    old_asg = {r.id: r.cell for r in idx.assignments.collect()}
    new_asg = {r.id: r.cell for r in new.assignments.collect()}
    assert set(old_asg) == set(new_asg)  # one row per vector, none lost
    # cold vectors untouched
    for vid, cell in old_asg.items():
        if cell in cold:
            assert new_asg[vid] == cell
    # split targets: old id or appended past max id
    max_old = max(sizes)
    for vid, cell in old_asg.items():
        if cell in hot:
            assert new_asg[vid] == cell or new_asg[vid] > max_old
    # cold centroids byte-identical
    old_cent = {r.cell: tuple(r.centroid) for r in idx.centroids.collect()}
    new_cent = {r.cell: tuple(r.centroid) for r in new.centroids.collect()}
    for c in cold:
        assert new_cent[c] == old_cent[c]
    assert len(new_cent) == len(old_cent) + len(hot)

    # repeated calls converge under the cap
    cur = new
    for _ in range(4):
        ns = {r.cell: r.n for r in cur.assignments.groupBy("cell")
              .agg(F.count("*").alias("n")).collect()}
        if max(ns.values()) <= cap:
            break
        cur = ivf_rebalance(cur, max_cell_size=cap)
    ns = {r.cell: r.n for r in cur.assignments.groupBy("cell")
          .agg(F.count("*").alias("n")).collect()}
    assert max(ns.values()) <= cap

    # still searchable
    got = ivf_search(emb.filter("vec_id < 3"), new, k=5, nprobe=4).collect()
    assert len(got) == 15


def test_jpeg_zrl_and_high_frequency_blocks():
    """Exercise the entropy-coding paths the block-constant fixture
    never reaches: a single high-frequency pixel pattern forces long
    AC zero runs (ZRL codes) and large-magnitude coefficients, and the
    roundtrip must still land within the flat-table quantization
    bound."""
    import numpy as np

    from auraverse_etl_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    # checkerboard = maximal (7,7) frequency -> 62 zero ACs before it:
    # encodes as DC, ZRL, ZRL, ZRL, (run,size), EOB
    yy, xx = np.mgrid[0:8, 0:8]
    checker = (((yy + xx) % 2) * 255).astype(np.uint8)
    _, back = decode_jpeg(encode_jpeg(checker))
    err = np.abs(back[:, :, 0].astype(int) - checker.astype(int))
    assert err.max() <= 32
    # and a mixed image: one checker block next to one constant block
    img = np.concatenate([checker, np.full((8, 8), 77, np.uint8)], axis=1)
    _, back2 = decode_jpeg(encode_jpeg(img))
    assert np.array_equal(back2[:, 8:, 0], img[:, 8:])  # constant block exact
    assert np.abs(back2[:, :8, 0].astype(int) - checker.astype(int)).max() <= 32


def test_hashed_embeddings_null_text_surfaces_as_zero_vector(spark):
    """A NULL-text document must not vanish from the embedding output
    (the silent-loss failure mode); it surfaces as the zero vector."""
    from auraverse_etl_pipeline_spark.operators.similarity import hashed_embeddings

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id bigint, text string"
    )
    got = {r.id: (list(r.embedding), r.norm) for r in hashed_embeddings(docs).collect()}
    assert set(got) == {1, 2}
    assert got[2][0] == [0.0] * 64 and got[2][1] == 0.0
    assert got[1][1] > 0


def test_hashed_embeddings_feed_sign_lsh_end_to_end(spark):
    """The bridge claim, composed: near-duplicate TEXTS produce
    hashed embeddings whose cosine is high, and the sign-LSH dedup
    tier finds the pair from those vectors alone — text in, duplicate
    pairs out, no learned encoder anywhere."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        hashed_embeddings,
        signbucket_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, "completely different text about query engines shuffles and parquet"),
            (4, "unrelated recipe flour butter sugar oven whisk bake cool serve"),
        ],
        "doc_id bigint, text string",
    )
    emb = hashed_embeddings(docs, dim=64).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    pairs = signbucket_lsh_pairs(emb, threshold=0.8, band_bits=8)
    got = {(r.id1, r.id2): r.cosine for r in pairs.collect()}
    pairs.release_caches()
    assert (1, 2) in got and got[(1, 2)] > 0.9
    assert all({a, b} == {1, 2} for a, b in got)  # no false pairs


def test_crawl_to_corpus_funnel_composition(spark):
    """The end-to-end pipeline composition: a corpus with a known exact
    duplicate, near duplicate, too-short doc and gibberish doc flows
    through WARC staging -> detection -> gates -> dedup, and each doc
    falls at exactly the stage it should (the too-short doc yields zero
    fragments, so it falls at DETECT, not gopher). The final row's
    digest must equal the Python-computed xor of the survivors' sha256
    prefixes — byte-level attestation that the WARC + detector round
    trip returned every surviving document unchanged. Texts carry no
    trailing whitespace (the raw-text fragment span excludes it, so
    byte-identity through re-assembly requires trimmed fixtures — same
    contract the prose corpus satisfies)."""
    import hashlib

    from auraverse_etl_pipeline_spark.operators.e2e import crawl_to_corpus_funnel

    base = (
        "the quick brown fox jumps over the lazy dog and then runs away "
        "through the green field where many other animals watch with great "
        "interest while the sun shines down on all of them every single day "
        "and the wind blows gently across the open meadow near the river "
    )
    text1 = (base * 2).strip()  # ~100 words, passes gopher
    text3 = (base * 2).strip() + " something slightly different appears here"
    text4 = (
        "a completely different story begins in the city where people walk "
        "to work every morning and buses move slowly down crowded streets "
        "while shops open their doors and the smell of fresh bread drifts "
        "from the bakery on the corner of the old market square every day "
        * 2
    ).strip()
    rows = [
        (1, text1),
        (2, text1),  # exact duplicate -> dropped at exact_dedup
        (3, text3),  # near duplicate of 1 -> dropped at minhash_dedup
        (4, text4),  # distinct survivor
        (5, "tiny text"),  # zero fragments -> dropped at detect_extract
        (6, ("zxqv gplk wrtm " * 20).strip()),  # no stopwords -> gopher
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = docs.filter("doc_id in (1, 4)")
    out = sorted(
        crawl_to_corpus_funnel(
            docs, ref, records_per_file=2, xent_max=100.0
        ).collect(),
        key=lambda r: r.stage_id,
    )
    assert [r.stage for r in out] == [
        "warc_roundtrip", "detect_extract", "domain_blocklist", "exact_dedup",
        "gopher", "lang_id", "lm_fluency", "minhash_dedup", "final_corpus",
    ]
    assert (out[0].docs_in, out[0].docs_out) == (6, 6)  # WARC is identity
    assert (out[1].docs_in, out[1].docs_out) == (6, 5)  # doc 5: no fragments
    assert (out[2].docs_in, out[2].docs_out) == (5, 5)  # no blocklist: pass-through
    assert (out[3].docs_in, out[3].docs_out) == (5, 4)  # doc 2 gone
    assert (out[4].docs_in, out[4].docs_out) == (4, 3)  # doc 6 gone
    assert (out[5].docs_in, out[5].docs_out) == (3, 3)
    assert (out[6].docs_in, out[6].docs_out) == (3, 3)  # xent_max=100
    assert (out[7].docs_in, out[7].docs_out) == (3, 2)  # doc 3 gone
    for prev, cur in zip(out, out[1:-1]):
        assert cur.docs_in == prev.docs_out
        assert cur.dropped == cur.docs_in - cur.docs_out >= 0
    fin = out[-1]
    survivors = {1: text1, 4: text4}
    xor = 0
    for t in survivors.values():
        xor ^= int(hashlib.sha256(t.encode()).hexdigest()[:15], 16)
    assert fin.docs_in == fin.docs_out == 2
    assert fin.text_xor60 == xor
    assert fin.corpus_tokens == sum(len(t.split()) for t in survivors.values())

    # Domain-gated run: doc 1 sits on a blocked domain. The RefinedWeb
    # stage order is load-bearing: the blocklist runs BEFORE exact
    # dedup, so doc 2 (the duplicate SURVIVOR) becomes its group's
    # canonical instead of being dropped alongside the blocked mirror.
    import pyspark.sql.functions as F

    docs_u = docs.withColumn(
        "uri",
        F.when(F.col("doc_id") == 1, F.lit("http://bad.example.com/doc/1")).otherwise(
            F.concat(F.lit("http://ok.example.net/doc/"), F.col("doc_id").cast("string"))
        ),
    )
    out2 = sorted(
        crawl_to_corpus_funnel(
            docs_u, ref, records_per_file=2, xent_max=100.0,
            blocked_domains=["example.com"], uri_col="uri",
        ).collect(),
        key=lambda r: r.stage_id,
    )
    by = {r.stage: (r.docs_in, r.docs_out) for r in out2}
    assert by["domain_blocklist"] == (5, 4)  # doc 1 blocked
    assert by["exact_dedup"] == (4, 4)  # doc 2 inherits the canonical slot
    assert by["minhash_dedup"] == (3, 2)  # doc 3 still near-dups against doc 2
    fin2 = out2[-1]
    survivors2 = {2: text1, 4: text4}
    xor2 = 0
    for t in survivors2.values():
        xor2 ^= int(hashlib.sha256(t.encode()).hexdigest()[:15], 16)
    assert fin2.docs_in == fin2.docs_out == 2
    assert fin2.text_xor60 == xor2


def test_corpus_to_chunk_index_planted_retrieval(spark):
    """Composition sanity for the retrieval pipeline: a query document
    IDENTICAL to a corpus document must retrieve that document's chunk
    at rank 1 with cosine exactly 1.0 (the clamp rule: the query
    vector EQUALS the indexed chunk vector through the deterministic
    encoder), and an unrelated-vocabulary query must not score 1.0."""
    from auraverse_etl_pipeline_spark.operators.e2e import corpus_to_chunk_index

    corpus_rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "one two three four five six"),
        (2, "red green blue yellow purple"),
        (3, "north south east west center"),
    ]
    docs = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    queries = spark.createDataFrame(
        [(100, "one two three four five six"),  # exact duplicate of doc 1
         (101, "entirely disjoint vocabulary words here")],
        "doc_id bigint, text string",
    )
    out = corpus_to_chunk_index(docs, queries, nlist=2, k=3, nprobe=2)
    rows = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in out.collect()}
    nb, cos = rows[(100, 1)]
    assert nb == (1 << 20)  # doc 1, chunk 0
    assert cos == 1.0  # clamped exact self-match
    for (q, rank), (_, c) in rows.items():
        if q == 101:
            assert c < 1.0


def test_domain_card_attribution_and_blocklist(spark):
    """domain_card: corpus-global dup attribution (the SECOND copy's
    domain carries the dup, even across domains), exact per-domain
    quartiles; domain_blocklist_funnel: listed domains blocked, others
    kept, Bloom never false-NEGATIVES a listed domain."""
    from auraverse_etl_pipeline_spark.operators.quality import (
        domain_blocklist_funnel,
        domain_card,
    )

    prose = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (0, prose + "alpha", "http://a.one.net/doc/0"),
        (1, prose + "alpha", "http://b.one.net/doc/1"),   # dup of 0, same domain
        (2, prose + "alpha", "http://c.two.net/doc/2"),   # dup of 0, OTHER domain
        (3, prose + "beta", "http://two.net/doc/3"),
        (4, prose + "gamma " * 20, "http://two.net/doc/4"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, target_uri string")
    card = {r.domain: r for r in domain_card(docs).collect()}
    assert set(card) == {"one.net", "two.net"}
    assert card["one.net"].n_docs == 2 and card["one.net"].n_dup == 1
    assert card["two.net"].n_docs == 3 and card["two.net"].n_dup == 1
    assert card["one.net"].dup_rate == 0.5
    # quartiles: one.net has two equal-length docs -> all quartiles equal
    assert card["one.net"].tok_q25 == card["one.net"].tok_q75

    fun = {r.domain: r for r in domain_blocklist_funnel(docs, ["one.net"]).collect()}
    assert fun["one.net"].blocked == 2 and fun["one.net"].kept == 0
    assert fun["two.net"].blocked == 0 and fun["two.net"].kept == 3
    assert fun["one.net"].bloom_flagged == 2  # no false negative possible


def test_wordpiece_differs_from_bpe_and_maxmunch_holds(spark):
    """The likelihood criterion must pick a DIFFERENT first merge than
    raw pair count on a fixture built for it (frequent-but-expected
    pair vs rare-but-surprising pair), and the encoder must prefer the
    longest vocabulary prefix (maximal munch)."""
    from auraverse_etl_pipeline_spark.operators.bpe import (
        bpe_train,
        wordpiece_encode,
        wordpiece_train,
    )

    # 'ab' occurs 6x but a,b are everywhere (expected); 'xy' occurs 3x
    # and x,y occur ONLY there (surprising): score(xy)=3/9 > score(ab).
    rows = [(i, "ab ab ab ab ab ab a b a b a b xy xy xy") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bpe_first = bpe_train(docs, num_merges=1).collect()[0]
    wp_first = wordpiece_train(docs, num_merges=1).collect()[0]
    assert (bpe_first.lhs, bpe_first.rhs) == ("a", "b")
    assert (wp_first.lhs, wp_first.rhs) == ("x", "y")

    merges = wordpiece_train(docs, num_merges=2)  # learns xy then ab
    enc = wordpiece_encode(docs, merges)
    got = {r.id: r.n_pieces for r in enc.collect()}
    enc.release_caches()
    # 'ab' -> 1 piece (maximal munch), single chars stay 1 piece,
    # 'xy' -> 1 piece: 6*1 + 6*1 + 3*1 = 15 pieces per doc
    assert got == {0: 15, 1: 15}


def test_contrastive_pairs_labels_and_shared_pass(spark):
    """Planted near-dup must label 'pos'; a lexically-overlapping
    non-dup that shares band minima must label 'neg' (the hard
    negative); and the pos set must equal minhash_near_duplicates on
    the same corpus (same pass, labeling replaces the filter)."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        contrastive_pairs,
        minhash_near_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base + " extra"),  # near-dup of 0 (J ≈ 0.92)
        # one verb changed: collides in the bands (J ≈ 0.55) but sits
        # under the 0.8 threshold — the hard negative
        (2, "the quick brown fox leaps over the lazy dog again and again today"),
        (3, "completely unrelated text about parquet shuffles and joins here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cp = contrastive_pairs(docs, jaccard_threshold=0.8, n=3, hash_fn="md5")
    got = {(r.id1, r.id2): r.label for r in cp.collect()}
    cp.release_caches()
    assert got[(0, 1)] == "pos"
    negs = [k for k, v in got.items() if v == "neg"]
    assert (0, 2) in negs, "LSH collisions below tau must surface as hard negatives"

    nd = minhash_near_duplicates(docs, jaccard_threshold=0.8, n=3, hash_fn="md5")
    want_pos = {(r.id1, r.id2) for r in nd.collect()}
    nd.release_caches()
    assert {k for k, v in got.items() if v == "pos"} == want_pos


# ---------------------------------------------------------------------------
# Byte-level BPE + codepoint-split parity (operators/bpe.py)
# ---------------------------------------------------------------------------


def _ref_bytebpe_train(texts, num_merges, min_pair_count=2):
    """Pure-Python byte-level reference: identical merge algebra to
    ``_ref_bpe_train`` but over UTF-8 bytes spelled as hex pairs."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.strip().split() if w)
    vocab = {w: ["%02X" % b for b in w.encode("utf-8")] for w in wf}
    merges = []
    for step in range(num_merges):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((step, l, r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


#: Deliberately hostile unicode: 2-byte (é ö ï), 3-byte (世界), and
#: 4-byte non-BMP (𝄞, a UTF-16 surrogate pair) codepoints.
_MULTIBYTE_TEXTS = [
    "héllo héllo wörld naïve",
    "héllo wörld 𝄞𝄞ab 𝄞𝄞ab",
    "世界 世界 abab abab naïve",
]


def test_bytebpe_train_matches_reference_on_multibyte_utf8(spark):
    from auraverse_etl_pipeline_spark.operators.bpe import bytebpe_train

    docs = spark.createDataFrame(
        list(enumerate(_MULTIBYTE_TEXTS)), "doc_id bigint, text string"
    )
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in bytebpe_train(docs, num_merges=8).orderBy("step").collect()
    ]
    want, _ = _ref_bytebpe_train(_MULTIBYTE_TEXTS, 8)
    assert got == want
    # every learned symbol is a valid even-length hex string
    assert all(len(l) % 2 == 0 and len(r) % 2 == 0 for _, l, r, _c in got)


def test_bytebpe_encode_multibyte_roundtrip(spark):
    """Pieces hex-decode back to each token's exact UTF-8 bytes, and
    encoding the training corpus reproduces training's final state
    (rank-order replay — the assumption the encode oracle rests on)."""
    from auraverse_etl_pipeline_spark.operators.bpe import bytebpe_encode, bytebpe_train

    docs = spark.createDataFrame(
        list(enumerate(_MULTIBYTE_TEXTS)), "doc_id bigint, text string"
    )
    merges = bytebpe_train(docs, num_merges=8)
    enc = {r.doc_id: r.pieces for r in bytebpe_encode(docs, merges).collect()}
    _, final_state = _ref_bytebpe_train(_MULTIBYTE_TEXTS, 8)
    for i, t in enumerate(_MULTIBYTE_TEXTS):
        toks = t.strip().split()
        # concatenated pieces == concatenated UTF-8 hex of the tokens
        assert "".join(enc[i]) == "".join(
            "%02X" % b for w in toks for b in w.encode("utf-8")
        )
        # rank-order encode == final training segmentation, per token
        want = [p for w in toks for p in final_state[w]]
        assert enc[i] == want


def test_char_split_codepoint_parity_with_duckdb(spark):
    """Retires the historical ASCII-only guard: Spark's split('') and
    DuckDB's string_split('') BOTH segment per codepoint — including
    non-BMP (UTF-16 surrogate pair) and decomposed combining marks —
    so char-level BPE/WordPiece/unigram hash-compare on any codepoint
    corpus. Probes the engines side by side, then pins char-level
    bpe_train == the pure-Python (codepoint-iterating) replica on a
    non-ASCII corpus."""
    import duckdb
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.bpe import bpe_train

    probes = ["a\U0001d11eb", "éx", "héllo", "世界ab", "𝄞𝄞"]
    sdf = spark.createDataFrame([(w,) for w in probes], "w string")
    got_spark = {
        r.w: r.parts for r in sdf.select("w", F.split("w", "").alias("parts")).collect()
    }
    con = duckdb.connect()
    for w in probes:
        duck = con.execute("SELECT string_split(?, '')", [w]).fetchone()[0]
        assert got_spark[w] == duck == list(w), w

    texts = ["héllo héllo wörld 世界", "héllo 世界 世界ab naïve"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(docs, num_merges=6).orderBy("step").collect()
    ]
    assert got == _ref_bpe_train(texts, 6)


def test_registrable_domain_psl_matching(spark):
    """PSL matcher semantics, both spellings side by side: 2-label
    rules (co.uk), 3-label rules (k12.ma.us), wildcard rules (*.ck),
    exception rules (!www.ck), the gTLD fallback, port/userinfo
    stripping, host lowercasing, host-is-exactly-a-public-suffix, and
    single-label hosts."""
    import duckdb
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.functions.psl import (
        registrable_domain,
        registrable_domain_sql,
    )

    cases = [
        ("http://docs.example.net/x", "example.net"),
        ("http://docs.example.net:8080/x", "example.net"),  # port strips
        ("https://user:pw@docs.example.net/x", "example.net"),  # userinfo strips
        ("http://WWW.Example.CO.UK/x", "example.co.uk"),  # lowercased, 2-label rule
        ("http://a.b.example.co.uk/x", "example.co.uk"),  # deep subdomain
        ("http://media.src1.k12.ma.us:99/x", "src1.k12.ma.us"),  # 3-label rule + port
        ("http://foo.ma.us/x", "foo.ma.us"),  # 2-label us-state rule
        ("http://co.uk/x", "co.uk"),  # host IS a public suffix
        ("http://k12.ma.us/x", "k12.ma.us"),  # host IS a 3-label suffix
        ("http://localhost/x", ""),  # single label: no registrable domain
        # wildcard rule *.ck: every 2-label suffix under .ck is public
        ("http://www.site.co.ck/x", "site.co.ck"),
        ("http://foo.ck/x", "foo.ck"),  # host IS a wildcard public suffix
        # exception rule !www.ck carves www.ck back out as registrable
        ("http://www.ck/x", "www.ck"),
        ("http://deep.www.ck/x", "www.ck"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = {
        r.u: r.d
        for r in df.select("u", registrable_domain("u").alias("d")).collect()
    }
    con = duckdb.connect()
    for u, want in cases:
        duck = con.execute(
            f"SELECT {registrable_domain_sql('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()[0]
        assert got[u] == want, (u, got[u], want)
        assert duck == want, (u, duck, want)


def test_registrable_domain_empty_rule_tables(spark):
    """Empty rule tuples must degrade identically on both engines (the
    CASE arm becomes literal FALSE) — never emit DuckDB ``IN ()``
    (Binder error at query time) or a zero-arg ``isin()`` (pyspark
    raises at build time)."""
    import duckdb

    from auraverse_etl_pipeline_spark.functions.psl import (
        registrable_domain,
        registrable_domain_sql,
    )

    cases = [
        ("http://a.b.example.co.uk/x", "co.uk"),  # 2-label rule gone → last2
        ("http://www.site.co.ck/x", "co.ck"),  # wildcard gone
        ("http://deep.www.ck/x", "www.ck"),  # exception gone, still last2
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = {
        r.u: r.d
        for r in df.select(
            "u",
            registrable_domain(
                "u", rules=(), wildcard_tlds=(), exceptions=()
            ).alias("d"),
        ).collect()
    }
    sql = registrable_domain_sql("u", rules=(), wildcard_tlds=(), exceptions=())
    assert "IN ()" not in sql
    con = duckdb.connect()
    for u, want in cases:
        duck = con.execute(f"SELECT {sql} FROM (SELECT ? AS u)", [u]).fetchone()[0]
        assert got[u] == want, (u, got[u], want)
        assert duck == want, (u, duck, want)


# ---------------------------------------------------------------------------
# Scalar quantization SQ8 (operators/similarity.py)
# ---------------------------------------------------------------------------


def test_sq8_roundtrip_error_and_edge_cases(spark):
    """Reconstruction error ≤ one quantization step per dimension,
    codes are real int8 (tinyint array), constant dimensions quantize
    to code 0 (−128 stored), and out-of-range components clamp to the
    byte edges when encoding against stale stats."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        _sq_recon_expr,
        sq_encode,
        sq_stats,
    )

    rows = [
        (0, [0.0, 5.0, -1.0, 7.0]),
        (1, [1.0, 5.0, 3.0, -2.0]),
        (2, [0.25, 5.0, 1.5, 4.0]),  # dim 2 (5.0) is constant
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats = sq_stats(corpus)
    codes = sq_encode(corpus, stats, dim=4)
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    got = {r.id: r.codes for r in codes.collect()}
    assert all(c == -128 for c in (got[0][1], got[1][1], got[2][1]))  # constant dim
    st = stats.first()
    recon = {
        r.id: r.rv
        for r in codes.crossJoin(F.broadcast(stats))
        .select("id", _sq_recon_expr(4).alias("rv"))
        .collect()
    }
    for vid, v in rows:
        for j, (x, xr) in enumerate(zip(v, recon[vid])):
            step = (st.vmax[j] - st.vmin[j]) / 255.0
            assert abs(x - xr) <= step + 1e-12, (vid, j, x, xr)

    # stale-stats clamp: a component beyond the trained range
    newbie = spark.createDataFrame(
        [(9, [100.0, 5.0, -100.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    nc = sq_encode(newbie, stats, dim=4).first().codes
    assert nc[0] == 127 and nc[2] == -128


def test_sq8_rerank_recall_vs_exact(spark, sf_dir):
    """The SQ8 shortlist-then-rerank recall of the exact top-5 —
    pinned alongside the PQ pin: SQ8's per-dim-bounded reconstruction
    error makes the depth-50 shortlist exact-recall 1.0 on the test
    corpus (PQ's sample codebooks recall 0.98 at the same depth)."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        l2_sq_expr,
        sq_encode,
        sq_stats,
        sq_topk_rerank,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    stats = sq_stats(corpus)
    codes = sq_encode(corpus, stats, dim=64)
    got = sq_topk_rerank(queries, codes, stats, corpus, k=5, shortlist=50, dim=64)
    approx_set = {(r.query_id, r.neighbor_id) for r in got.collect()}

    q = corpus.sparkSession.createDataFrame(
        [(r.vec_id, r.embedding) for r in queries.collect()],
        "query_id bigint, qv array<double>",
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("neighbor_id")
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "neighbor_id", l2_sq_expr("qv", "cv").alias("l2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall == 1.0, recall


def test_paragraph_dedup_keep_first_semantics(spark):
    """dedup_paragraphs is KEEP-FIRST (CCNet), not delete-all
    (boilerplate removal): a corpus-repeated paragraph survives at its
    lowest (doc_id, pos) occurrence only; unique paragraphs and blank
    separators always survive; reassembly preserves order."""
    from auraverse_etl_pipeline_spark.operators.dedup import dedup_paragraphs

    shared = "this exact paragraph appears in three documents"
    rows = [
        (1, f"alpha one\n\n{shared}\n\nbeta one"),
        (2, f"{shared}\n\ngamma two"),
        (3, f"delta three\n\n{shared}"),
        (4, f"{shared}\n\n{shared}"),  # repeated WITHIN one doc too
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert got[1].text == f"alpha one\n\n{shared}\n\nbeta one"  # first occurrence kept
    assert got[1].n_paras_dropped == 0
    assert got[2].text == "gamma two" and got[2].n_paras_dropped == 1
    assert got[3].text == "delta three" and got[3].n_paras_dropped == 1
    assert got[4].text == "" and got[4].n_paras_dropped == 2
    # 3 (doc 1) + gamma + delta; the shared paragraph counts ONCE
    assert sum(r.n_paras_kept for r in got.values()) == 5


def test_paragraph_dedup_null_text_passes_through(spark):
    """A NULL-text document must NOT vanish from the output (split of
    NULL yields zero posexplode rows): it reassembles as one blank
    kept paragraph, and never claims a keep-first slot from a real
    paragraph."""
    from auraverse_etl_pipeline_spark.operators.dedup import dedup_paragraphs

    rows = [(1, "real paragraph"), (2, None), (3, "real paragraph")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2].text == "" and got[2].n_paras_kept == 1
    assert got[2].n_paras_dropped == 0
    assert got[1].text == "real paragraph" and got[3].text == ""


def test_semdedup_prebuilt_index_matches_default_build(spark, sf_dir):
    """semdedup_clusters(index=...) with the index the default path
    would have built returns identical verdicts — the prebuilt-index
    day-2 contract (quantizer amortized across runs, rebalance
    composable) changes WHERE the index comes from, never a verdict."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        semdedup_clusters,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    default = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semdedup_clusters(emb, nlist=4, threshold=0.9, max_iter=2).collect()
    )
    idx = ivf_index(emb, nlist=4, quantizer="lloyd", max_iter=2)
    prebuilt = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semdedup_clusters(emb, threshold=0.9, index=idx).collect()
    )
    assert default == prebuilt


def test_semdedup_drops_central_member_within_cells(spark):
    """SemDeDup semantics: among an above-threshold in-cell pair the
    MORE-CENTRAL member (higher cosine to the cell centroid) drops and
    the diversity-adding one survives; vectors in different cells
    never pair (the cluster-bounded contract — a boundary near-dup
    survives by design); far-apart vectors all survive."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import semdedup_clusters

    def vec(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    rows = [
        (0, vec(10, 0, 0)),       # cluster A anchor
        (1, vec(10, 0.4, 0)),     # near-dup of 0, slightly off-center
        (2, vec(0, 10, 0)),       # cluster B anchor
        (3, vec(0, 10, 0.4)),     # near-dup of 2
        (4, vec(0, 0, 10)),       # isolated direction, survives
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r for r in semdedup_clusters(emb, nlist=3, threshold=0.95).collect()}
    assert len(out) == 5 and out[4].kept
    # exactly one member of each near-dup pair survives, and the
    # survivor is the LESS central one of its pair
    for a, b in [(0, 1), (2, 3)]:
        assert out[a].kept != out[b].kept
        kept_id = a if out[a].kept else b
        drop_id = b if out[a].kept else a
        assert out[kept_id].centroid_cos <= out[drop_id].centroid_cos


def test_distance_kernels_unrolled_bit_parity(spark, sf_dir):
    """The dim-unrolled spellings of cosine_similarity_expr and
    l2_sq_expr are BIT-IDENTICAL to the HOF folds on real embedding
    pairs (same left-to-right association including the leading 0.0 —
    a dropped init could flip a signed zero). The unrolled form is the
    volume knob (SCALE.md r12): codegen-able where the fold is
    CodegenFallback, but it pays a large janino compile per distinct
    plan and can exceed the 64 KB method limit inside join consume
    functions — so registry queries keep the fold and callers opt in
    via dim=."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        cosine_similarity_expr,
        l2_sq_expr,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pairs = emb.alias("a").crossJoin(
        emb.alias("b").select(
            F.col("vec_id").alias("vid2"), F.col("v").alias("v2")
        )
    ).limit(5000)
    diffs = pairs.select(
        (
            cosine_similarity_expr("v", "v2") == cosine_similarity_expr("v", "v2", dim=64)
        ).alias("c_eq"),
        (l2_sq_expr("v", "v2") == l2_sq_expr("v", "v2", dim=64)).alias("l_eq"),
    ).filter("NOT c_eq OR NOT l_eq")
    assert diffs.count() == 0


def test_ivf_assign_dim_knob_identical_cells(spark, sf_dir):
    """ivf_assign(dim=64) returns byte-identical assignments to the
    fold path — the knob changes the expression spelling, never a cell
    or a cosine."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(emb.filter("vec_id >= 10"), nlist=8, quantizer="sample")
    batch = emb.filter("vec_id < 10")
    fold = sorted(
        (r.id, r.cell, r.centroid_cos)
        for r in ivf_assign(batch, idx.centroids, clamp=True).collect()
    )
    unrolled = sorted(
        (r.id, r.cell, r.centroid_cos)
        for r in ivf_assign(batch, idx.centroids, clamp=True, dim=64).collect()
    )
    assert fold == unrolled


def test_ivf_occupancy_audit_shape(spark):
    """ivf_occupancy on hand-built assignments: counts, max/median
    context and the over-cap list must be exact, and over_cap must
    agree with what ivf_rebalance at the same cap would split."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_occupancy

    asg = spark.createDataFrame(
        [(i, [float(i)], 0) for i in range(5)]
        + [(10 + i, [float(i)], 1) for i in range(2)]
        + [(20 + i, [float(i)], 2) for i in range(3)],
        "id bigint, v array<double>, cell int",
    )
    rows = {r.cell: r for r in ivf_occupancy(asg, cap=3).collect()}
    assert {c: r.n_members for c, r in rows.items()} == {0: 5, 1: 2, 2: 3}
    assert all(r.max_members == 5 for r in rows.values())
    assert all(r.med_members == 3.0 for r in rows.values())
    assert rows[0].over_cap and not rows[1].over_cap and not rows[2].over_cap
    assert rows[0].skew_ratio == 5 / 3.0


def test_ivf_occupancy_nontrivial_at_test_sf(spark, sf_dir):
    """The registry query's cap (35) must split the sample-quantizer
    cells non-trivially at the correctness SF — some over, some under
    (the audit is the rebalance trigger; an all-false or all-true
    over_cap column guards nothing)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_occupancy,
    )
    from auraverse_etl_pipeline_spark.plans.llm_queries import _IVF_OCC_CAP
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(emb.filter(F.col("vec_id") >= 10), nlist=16, quantizer="sample")
    occ = ivf_occupancy(idx.assignments, cap=_IVF_OCC_CAP).collect()
    n_over = sum(1 for r in occ if r.over_cap)
    assert 0 < n_over < len(occ)


def test_multimodal_pair_dedup_planted_edges(spark):
    """Both collapse directions on hand-built pairs: a byte-identical
    image with an unrelated caption joins via the media edge, a
    distinct image with a near-identical caption joins via the caption
    edge, and an unrelated pair gets no label at all."""
    from auraverse_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        multimodal_pair_dedup,
    )

    rows = [
        (1, b"IMG-X", "a quick brown fox jumps over the lazy dog"),
        (2, b"IMG-X", "completely unrelated caption about mountains"),  # media edge
        (3, b"IMG-Y", "a quick brown fox jumps over the lazy dogs"),   # caption edge
        (4, b"IMG-Z", "nothing shared with anything else here at all"),
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id bigint, payload binary, caption string"
    )
    cap_pairs = ngram_jaccard_pairs(
        pairs, threshold=0.5, n=3, text_col="caption", id_col="pair_id"
    )
    labels = {
        r.pair_id: r.component
        for r in multimodal_pair_dedup(
            pairs.select("pair_id", "payload"), cap_pairs
        ).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1}  # 4 touched by no edge


def test_retrieval_quality_audit_hand_geometry(spark):
    """nDCG pins on hand-built rankings: a system that returns the
    ideal order scores exactly 1.0, a system with nothing relevant
    scores 0.0, and a reversed order lands strictly between."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        retrieval_quality_audit,
    )

    truth = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 2), (1, 12, 1)],
        "query_id bigint, doc_id bigint, rel bigint",
    )
    runs = spark.createDataFrame(
        [("ideal", 1, 10, 1), ("ideal", 1, 11, 2), ("ideal", 1, 12, 3),
         ("reversed", 1, 12, 1), ("reversed", 1, 11, 2), ("reversed", 1, 10, 3),
         ("lost", 1, 90, 1), ("lost", 1, 91, 2), ("lost", 1, 92, 3)],
        "system string, query_id bigint, doc_id bigint, rank bigint",
    )
    out = {r.system: r for r in retrieval_quality_audit(runs, truth, k=3).collect()}
    assert out["ideal"].ndcg == 1.0
    assert out["lost"].dcg == 0.0 and out["lost"].ndcg == 0.0
    assert 0.0 < out["reversed"].ndcg < 1.0
    assert out["ideal"].idcg == out["reversed"].idcg


def test_retrieval_quality_audit_uncovered_query_is_zero_not_nan(spark):
    """A (system, query) whose query has NO truth rows, or whose truth
    grades are all zero, must still appear with ndcg=0.0 — never NaN
    (0.0/0.0), never silently dropped by an inner join (the round-13
    ADVICE finding). The audit's job is to SURFACE uncovered queries."""
    import math

    from auraverse_etl_pipeline_spark.operators.retrieval import (
        retrieval_quality_audit,
    )

    # query 1: normal truth; query 2: no truth rows at all;
    # query 3: truth rows exist but every grade is zero.
    truth = spark.createDataFrame(
        [(1, 10, 2), (1, 11, 1), (3, 30, 0), (3, 31, 0)],
        "query_id bigint, doc_id bigint, rel bigint",
    )
    runs = spark.createDataFrame(
        [("s", 1, 10, 1), ("s", 1, 11, 2),
         ("s", 2, 20, 1), ("s", 2, 21, 2),
         ("s", 3, 30, 1), ("s", 3, 31, 2)],
        "system string, query_id bigint, doc_id bigint, rank bigint",
    )
    rows = {r.query_id: r for r in retrieval_quality_audit(runs, truth, k=2).collect()}
    assert set(rows) == {1, 2, 3}  # nothing dropped
    assert rows[1].ndcg == 1.0
    for q in (2, 3):
        assert rows[q].idcg == 0.0 and rows[q].dcg == 0.0
        assert rows[q].ndcg == 0.0 and not math.isnan(rows[q].ndcg)


def test_retrieval_quality_audit_hybrid_stack_and_engine_parity(spark, sf_dir, duck):
    """The real measurement the operator exists for: nDCG@10 of
    BM25-only vs dense-only vs RRF hybrid against exact-cosine graded
    truth, on the sim_hybrid_search stack. Pins: (a) dense-only is
    exactly 1.0 (the truth IS the exact dense ranking), (b) every
    score is in [0, 1], (c) the whole output — log2 discounts, ordered
    folds, divisions — is BIT-IDENTICAL to a DuckDB replay over the
    same rankings (the libm/fold discipline, not approximately)."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
        hybrid_rrf,
        retrieval_quality_audit,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import cosine_top_k
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    qids = (3, 47, 101)
    qf = F.col("doc_id").isin(*qids)
    idx = bm25_index(corpus, cache=True)
    lex = bm25_search(
        corpus.filter(qf).select(F.col("doc_id").alias("query_id"), "text"),
        idx, k=10,
    ).select("query_id", "doc_id", "rank")
    dense = cosine_top_k(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        corpus.filter(qf).select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=10, exact_fold=True,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    hybrid = hybrid_rrf(lex, dense, k=10).select("query_id", "doc_id", "rank")
    runs = (
        lex.select(F.lit("bm25").alias("system"), "query_id", "doc_id", "rank")
        .unionByName(dense.select(F.lit("dense").alias("system"), "query_id", "doc_id", "rank"))
        .unionByName(hybrid.select(F.lit("hybrid").alias("system"), "query_id", "doc_id", "rank"))
        .cache()
    )
    truth = dense.select(
        "query_id", "doc_id", (11 - F.col("rank")).cast("bigint").alias("rel")
    ).cache()
    out = retrieval_quality_audit(runs, truth, k=10)
    rows = out.collect()
    assert len(rows) == 9  # 3 systems x 3 queries
    assert all(0.0 <= r.ndcg <= 1.0 for r in rows)
    assert all(r.ndcg == 1.0 for r in rows if r.system == "dense")

    # bit-exact DuckDB replay over the same rankings
    duck.register("ndcg_runs", runs.toPandas())
    duck.register("ndcg_truth", truth.toPandas())
    oracle = duck.execute("""
        WITH got AS (
            SELECT r.system, r.query_id, r.rank, COALESCE(t.rel, 0) AS rel
            FROM ndcg_runs r LEFT JOIN ndcg_truth t USING (query_id, doc_id)
            WHERE r.rank <= 10
        ),
        g AS (SELECT system, query_id, rank,
                     CAST(rel AS DOUBLE) / log2(CAST(rank + 1 AS DOUBLE)) AS gain
              FROM got),
        dcg AS (
            SELECT system, query_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list(gain ORDER BY rank)),
                               (a, b) -> a + b) AS dcg
            FROM g GROUP BY system, query_id
        ),
        ide AS (
            SELECT query_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, doc_id) AS rank
            FROM ndcg_truth
        ),
        ig AS (SELECT query_id, rank,
                      CAST(rel AS DOUBLE) / log2(CAST(rank + 1 AS DOUBLE)) AS gain
               FROM ide WHERE rank <= 10),
        idcg AS (
            SELECT query_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list(gain ORDER BY rank)),
                               (a, b) -> a + b) AS idcg
            FROM ig GROUP BY query_id
        )
        SELECT d.system, d.query_id, d.dcg, i.idcg, d.dcg / i.idcg AS ndcg
        FROM dcg d JOIN idcg i USING (query_id)
    """).fetchdf()
    got = {(r.system, r.query_id): (r.dcg, r.idcg, r.ndcg) for r in rows}
    for rec in oracle.itertuples(index=False):
        assert got[(rec.system, rec.query_id)] == (rec.dcg, rec.idcg, rec.ndcg)
    runs.unpersist()
    truth.unpersist()
    idx.cache_handle.unpersist()


def test_multimodal_pair_dedup_with_minhash_caption_tier(spark, docs):
    """The corpus-scale composition: caption edges from banded
    MinHash-LSH (not exact all-pairs Jaccard) feed the same pair-dedup
    closure — planted media duplicates and caption near-dups collapse
    into one component either way."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from auraverse_etl_pipeline_spark.operators.multimodal import (
        multimodal_pair_dedup,
    )

    base = docs.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("pair_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.col("text").alias("caption"),
    ).cache()
    dup_img = base.filter(F.col("pair_id") < 10).select(
        (F.col("pair_id") + 1000).alias("pair_id"),
        "payload",
        F.concat(F.lit("totally new caption "), F.col("pair_id").cast("string")).alias("caption"),
    )
    dup_cap = base.filter(F.col("pair_id") < 5).select(
        (F.col("pair_id") + 2000).alias("pair_id"),
        F.encode(F.concat(F.lit("v2:"), "caption"), "UTF-8").alias("payload"),
        "caption",
    )
    corpus = base.unionByName(dup_img).unionByName(dup_cap).cache()
    cap_pairs = minhash_near_duplicates(
        corpus, jaccard_threshold=0.5, n=3, text_col="caption", id_col="pair_id"
    )
    labels = {
        r.pair_id: r.component
        for r in multimodal_pair_dedup(
            corpus.select("pair_id", "payload"), cap_pairs.select("id1", "id2")
        ).collect()
    }
    # component EQUALITY, not specific values: base docs may have
    # natural caption near-dups among themselves, pulling a component
    # label below k — the pin is that each plant lands with its base
    for k in range(10):
        assert labels[k + 1000] == labels[k]  # media edge joins the plant
    for k in range(5):
        assert labels[k + 2000] == labels[k]  # LSH caption edge joins the plant
    cap_pairs.release_caches()
    base.unpersist()
    corpus.unpersist()


def test_ivf_save_layout_one_file_per_cell(spark, sf_dir, tmp_path):
    """IvfIndex.save clusters by cell before the partitioned write:
    each cell directory holds ~one data file (not one per task), so a
    probed search opens O(nprobe) files and the writer never holds
    tasks × nlist open buffers (the 160k×64 heap-OOM shape in
    SCALE.md r13)."""
    import glob

    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").repartition(8)
    idx = ivf_index(emb.filter(F.col("vec_id") >= 10), nlist=16, quantizer="sample")
    path = str(tmp_path / "ivf_layout")
    idx.save(path)
    for cell_dir in glob.glob(f"{path}/assignments/cell=*"):
        files = glob.glob(f"{cell_dir}/*.parquet")
        assert len(files) == 1, cell_dir  # clustered: one writer per cell


def _exact_substr_cov_sql(k: int, cap: int | None = None) -> str:
    """The DuckDB replay of _covered_shingle_starts (CTE fragment ending
    in ``cov(doc_id, pos)``) — generate_series is the SCALAR list
    function (lateral-safe, unlike the range() table function), slices
    are 1-based inclusive, and keep-first is the same
    row_number-over-(doc_id, pos) both engines run."""
    lost = "rn > 1" if cap is None else f"rn > 1 OR cnt > {cap}"
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS toks
      FROM documents
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - {k} + 1, 0))) AS i
      FROM d
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(toks[i : i + {k - 1}], ' ')) AS h
      FROM idx
    ),
    r AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY h) AS cnt
      FROM occ
    ),
    cov AS (SELECT doc_id, pos FROM r WHERE {lost})
    """


def _exact_substr_spans_sql(k: int, cap: int | None = None) -> str:
    return _exact_substr_cov_sql(k, cap) + f""",
    fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + {k}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS nw
      FROM cov
    ),
    isl AS (
      SELECT doc_id, pos, sum(nw) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM fl
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {k} AS BIGINT) AS span_end,
           CAST(max(pos) + {k} - min(pos) AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, g
    """


def _exact_substr_strip_sql(k: int, cap: int | None = None) -> str:
    return _exact_substr_cov_sql(k, cap) + f""",
    covp AS (
      SELECT DISTINCT doc_id, pos + u AS tpos
      FROM cov CROSS JOIN unnest(generate_series(0, {k - 1})) AS s(u)
    ),
    tok AS (
      SELECT doc_id,
             unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) - 1 AS tpos
      FROM d
    )
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           coalesce(string_agg(CASE WHEN c.tpos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.tpos), '') AS text,
           CAST(count(*) FILTER (WHERE c.tpos IS NULL) AS BIGINT) AS n_tokens_kept,
           CAST(count(*) FILTER (WHERE c.tpos IS NOT NULL) AS BIGINT)
             AS n_tokens_dropped
    FROM tok t LEFT JOIN covp c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    GROUP BY t.doc_id
    """


def test_duplicate_token_spans_keep_first_and_merge(spark):
    """ExactSubstr semantics: the FIRST corpus-wide copy of a repeated
    passage reports no span; a later copy reports ONE maximal merged
    span (never per-shingle hits); within-doc repeats lose their
    second occurrence; docs shorter than k report nothing."""
    from auraverse_etl_pipeline_spark.operators.dedup import duplicate_token_spans

    passage = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    rows = [
        (1, passage),
        (2, f"intro words here {passage} tail end"),
        (3, "x y z x y z"),
        (4, "too short"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_token_spans(docs, k=3).collect()
    )
    # doc 2: passage at token 3..11 -> one merged span [3, 12); doc 3:
    # "x y z" repeated, second copy at [3, 6); docs 1/4/5: nothing.
    assert got == [(2, 3, 12, 9), (3, 3, 6, 3)]


def test_duplicate_token_spans_boilerplate_cap(spark):
    """boilerplate_cap flips keep-first into delete-all for over-cap
    shingles: the first copy loses too (drop_boilerplate_lines
    posture at shingle granularity)."""
    from auraverse_etl_pipeline_spark.operators.dedup import duplicate_token_spans

    passage = "one two three four five"
    rows = [(1, passage), (2, passage), (3, passage)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # cap=1: every shingle occurs 3 times > 1 -> all three docs fully covered
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_token_spans(docs, k=3, boilerplate_cap=1).collect()
    )
    assert got == [(1, 0, 5), (2, 0, 5), (3, 0, 5)]
    # cap=5 (not exceeded): plain keep-first, doc 1 survives
    got = sorted(
        (r.doc_id,)
        for r in duplicate_token_spans(docs, k=3, boilerplate_cap=5).collect()
    )
    assert got == [(2,), (3,)]


def test_strip_duplicate_spans_reassembly(spark):
    """The destructive half: later copies are excised MID-document
    (surrounding prose survives), every doc appears in the output
    (empty and NULL text included, as one empty kept token), and
    kept+dropped = token_count."""
    from auraverse_etl_pipeline_spark.operators.dedup import strip_duplicate_spans

    passage = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, passage),
        (2, f"intro words here {passage} tail end"),
        (3, "x y z x y z"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in strip_duplicate_spans(docs, k=3).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].text == passage and got[1].n_tokens_dropped == 0
    assert got[2].text == "intro words here tail end"
    assert (got[2].n_tokens_kept, got[2].n_tokens_dropped) == (5, 9)
    assert got[3].text == "x y z"
    assert (got[3].n_tokens_kept, got[3].n_tokens_dropped) == (3, 3)
    assert got[4].text == "" and got[4].n_tokens_kept == 1


def test_exact_substring_duckdb_parity(spark, duck, sf_dir):
    """Full-pipeline digit-for-digit parity on the real documents
    table, spans AND strip, default k and a denser k — all-integer
    arithmetic plus the established tokenizer twin, so the comparison
    is exact tuple equality (no hash, no tolerance)."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        duplicate_token_spans,
        strip_duplicate_spans,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for k in (8, 20):
        got = sorted(
            tuple(r)
            for r in duplicate_token_spans(docs, k=k)
            .select("doc_id", "span_start", "span_end", "span_tokens")
            .collect()
        )
        want = sorted(map(tuple, duck.execute(_exact_substr_spans_sql(k)).fetchall()))
        assert got == want, f"spans mismatch at k={k}"
        assert len(got) > 0, f"fixture has no duplicated spans at k={k}"

    got = sorted(
        tuple(r)
        for r in strip_duplicate_spans(docs, k=8)
        .select("doc_id", "text", "n_tokens_kept", "n_tokens_dropped")
        .collect()
    )
    want = sorted(map(tuple, duck.execute(_exact_substr_strip_sql(8)).fetchall()))
    assert got == want


def test_exact_substring_plan_shape(spark, sf_dir):
    """Both ExactSubstr operators stay JVM-side and join-sane: no
    CartesianProduct, no Python eval, and the only exchanges are the
    shingle-hash window, the per-doc island/reassembly hash
    partitionings, and the covered-position equality join."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        duplicate_token_spans,
        strip_duplicate_spans,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for op in (duplicate_token_spans, strip_duplicate_spans):
        plan = op(docs, k=8)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan


def test_substring_index_incremental_matches_batch(spark, sf_dir):
    """The ExactSubstr day-2 loop: splitting the corpus into id-ordered
    batches and running match-against-index → merge reproduces the
    batch audit's spans EXACTLY (index-wins across batches +
    within-batch keep-first = global keep-first when arrival order
    matches id order); the index keeps singleton hashes; merge is
    idempotent on re-ingest."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        duplicate_token_spans,
        match_substring_index,
        merge_substring_index,
        substring_index,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    k = 8
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)

    empty = substring_index(docs.limit(0), k=k)
    spans1 = match_substring_index(b1, empty, k=k)
    idx = merge_substring_index(substring_index(b1, k=k), empty)
    spans2 = match_substring_index(b2, idx, k=k)

    got = sorted(tuple(r) for r in spans1.unionByName(spans2).collect())
    want = sorted(tuple(r) for r in duplicate_token_spans(docs, k=k).collect())
    assert got == want and len(want) > 0

    # the index holds every DISTINCT shingle hash of batch 1 (singletons
    # included — tomorrow's collisions), one owner row each
    occ_hashes = (
        b1.select(F.posexplode(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")))
        .count()
    )
    n_idx = idx.count()
    assert 0 < n_idx <= occ_hashes
    assert idx.select("h").distinct().count() == n_idx

    # re-ingesting an already-indexed document: covered wall-to-wall,
    # and the merge adds nothing (index-wins idempotence)
    one = b1.filter(F.size(F.split(F.trim("text"), r"\s+")) >= k).limit(1)
    one_id, n_toks = one.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+"))
    ).first()
    respan = match_substring_index(one, idx, k=k).collect()
    assert [tuple(r) for r in respan] == [(one_id, 0, n_toks, n_toks)]
    assert merge_substring_index(substring_index(one, k=k), idx).count() == n_idx


def test_exact_substring_report_duckdb_parity(spark, duck, sf_dir):
    """The per-doc summary: every document exactly once, dup_tokens =
    the sum of its maximal spans, dup_pct in integer basis points
    (DIV, float-free) — digit-for-digit against the DuckDB replay."""
    from auraverse_etl_pipeline_spark.operators.dedup import exact_substring_report
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    k = 8
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in exact_substring_report(docs, k=k)
        .select("doc_id", "n_tokens", "dup_tokens", "n_spans", "dup_pct")
        .collect()
    )
    sql = _exact_substr_spans_sql(k)
    want = sorted(
        map(
            tuple,
            duck.execute(
                f"""
        WITH spans AS ({sql}),
        per_doc AS (
          SELECT doc_id, sum(span_tokens) AS dup, count(*) AS nsp
          FROM spans GROUP BY doc_id
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CAST(len(string_split_regex(trim(coalesce(d.text, '')), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(coalesce(p.dup, 0) AS BIGINT) AS dup_tokens,
               CAST(coalesce(p.nsp, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(p.dup, 0) * 10000
                    // len(string_split_regex(trim(coalesce(d.text, '')), '\\s+'))
                    AS BIGINT) AS dup_pct
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) == docs.count()  # every doc exactly once
    assert any(r[4] > 0 for r in got)  # the fixture has real duplication


def test_hot_shingles_audit(spark):
    """The boilerplate_cap audit reports exactly the over-cap shingles
    WITH their text, hottest first — the observable record of what
    delete-all would hit."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        duplicate_token_spans,
        hot_shingles,
    )

    footer = "subscribe to our newsletter today"
    # the doc-unique token sits immediately before the footer so every
    # k-window except the footer's own carries it (no accidental
    # shared shingles straddling the boundary)
    rows = [(i, f"article body text number{i} {footer}") for i in range(1, 7)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = hot_shingles(docs, k=5, cap=3).collect()
    assert [r.shingle for r in got] == [footer]
    assert got[0].n_occurrences == 6 and got[0].n_docs == 6
    # below-cap shingles don't report; raising the cap empties it
    assert hot_shingles(docs, k=5, cap=6).count() == 0
    # and the cap the audit previews is the cap the operator enforces:
    # with boilerplate_cap=3 the footer dies in ALL six docs
    spans = duplicate_token_spans(docs, k=5, boilerplate_cap=3)
    assert spans.filter("span_end - span_start >= 5").count() == 6


def test_substring_novelty_report(spark):
    """Novelty basis points against a persisted index: a verbatim
    re-ingest reads 0, genuinely new content reads 10000, a doc
    quoting indexed text reads in between, short docs (no shingles)
    report fully novel — and every batch doc appears exactly once."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        substring_index,
        substring_novelty_report,
    )

    k = 3
    old_text = "the quick brown fox jumps over the lazy dog"  # 9 toks, 7 shingles
    corpus = spark.createDataFrame([(1, old_text)], "doc_id bigint, text string")
    idx = substring_index(corpus, k=k)

    batch = spark.createDataFrame(
        [
            (10, old_text),                      # re-ingest: novelty 0
            (11, "entirely fresh words appear in this new sentence"),
            (12, f"prefix words then {old_text}"),  # partial quote
            (13, "tiny"),                        # < k tokens
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in substring_novelty_report(batch, idx, k=k).collect()}
    assert set(got) == {10, 11, 12, 13}
    assert (got[10].n_shingles, got[10].n_known, got[10].novelty_pct) == (7, 7, 0)
    assert got[11].n_known == 0 and got[11].novelty_pct == 10000
    # doc 12: 12 tokens -> 10 shingles; the 7 old-text shingles are
    # known, the 3 straddling the prefix boundary are not
    assert (got[12].n_shingles, got[12].n_known) == (10, 7)
    assert got[12].novelty_pct == 3 * 10000 // 10
    assert (got[13].n_shingles, got[13].novelty_pct) == (0, 10000)
