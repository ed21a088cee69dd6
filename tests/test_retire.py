"""Id-retirement (take-down) propagation — operators/retire.py.

The tier's contract, pinned here: a retired id becomes unsearchable in
the IVF and BM25 indexes and vanishes from the logs; every surface's
post-retire state is INDISTINGUISHABLE from a rebuild without the
retired ids; and the rewrite touches only what the ids touch (cold IVF
partitions byte-untouched, emptied partitions actually deleted)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from auraverse_etl_pipeline_spark.operators.retire import (
    bm25_retire,
    bm25_retire_path,
    ivf_retire,
    log_retire,
)


def _tomb(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint")


def _corpus(spark):
    # sample quantizer (nlist=2): centroids = vectors of ids 10, 11
    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0]),
        (12, [0.99, 0.1, 0.0]),
        (13, [0.97, 0.2, 0.0]),
        (14, [0.1, 0.99, 0.0]),
        (15, [0.0, 0.97, 0.2]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_ivf_retire_unsearchable_and_cold_untouched(spark, tmp_path):
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivf_search,
    )

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    root = str(tmp_path / "ivf")
    idx.save(root)
    cell_of_12 = {
        r.id: r.cell for r in spark.read.parquet(f"{root}/assignments").collect()
    }[12]
    cold_cell = 1 - cell_of_12
    cold_files = sorted(glob.glob(f"{root}/assignments/cell={cold_cell}/*.parquet"))
    assert cold_files
    cold_before = [(f, os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in cold_files]

    touched = ivf_retire(spark, root, _tomb(spark, [12]), members_table="assignments")
    assert touched == [cell_of_12]

    # disk state: 12 gone, everything else intact
    ids = {r.id for r in spark.read.parquet(f"{root}/assignments").collect()}
    assert ids == {10, 11, 13, 14, 15}
    # cold partition byte-untouched
    cold_after = [(f, os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in cold_files]
    assert cold_after == cold_before
    # a query AT the retired vector can no longer find it
    loaded = IvfIndex.load(spark, root)
    q = spark.createDataFrame(
        [(0, [0.99, 0.1, 0.0])], "vec_id bigint, embedding array<double>"
    )
    hits = ivf_search(q, loaded, k=3, nprobe=1, exact_fold=True, clamp=True).collect()
    got = [r.neighbor_id for r in hits]
    assert 12 not in got and got[0] in (10, 13)
    # idempotent: nothing left to touch
    assert ivf_retire(spark, root, _tomb(spark, [12]), members_table="assignments") == []
    # centroids were never the retire's business
    assert spark.read.parquet(f"{root}/centroids").count() == 2


def test_ivf_retire_emptied_cell_partition_deleted(spark, tmp_path):
    """A touched cell whose members ALL retire must lose its partition
    directory outright — a dynamic overwrite with no rows for the cell
    would silently leave the doomed files live."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivf_search,
    )

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    root = str(tmp_path / "ivf_empty")
    idx.save(root)
    asg = {r.id: r.cell for r in spark.read.parquet(f"{root}/assignments").collect()}
    cell1_ids = sorted(i for i, c in asg.items() if c == 1)
    touched = ivf_retire(
        spark, root, _tomb(spark, cell1_ids), members_table="assignments"
    )
    assert touched == [1]
    assert not os.path.exists(f"{root}/assignments/cell=1")
    survivors = {r.id for r in spark.read.parquet(f"{root}/assignments").collect()}
    assert survivors == set(asg) - set(cell1_ids)
    # the emptied cell keeps its centroid (valid quantizer geometry);
    # probing it scans zero rows and search still answers
    loaded = IvfIndex.load(spark, root)
    q = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    hits = ivf_search(q, loaded, k=2, nprobe=2, exact_fold=True, clamp=True).collect()
    assert hits and all(r.neighbor_id in survivors for r in hits)
    assert spark.read.parquet(f"{root}/centroids").count() == 2


def test_ivf_retire_gate_members_layout(spark, tmp_path):
    """Schema-agnostic: the SemDeDup gate's members table (id, v,
    centroid_cos, cell) retires identically — surviving rows keep every
    column verbatim."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    members = idx.assignments.withColumn(
        "centroid_cos", (F.col("id") * 0.01 + 0.9)
    )
    root = str(tmp_path / "gate")
    members.repartition("cell").write.partitionBy("cell").parquet(f"{root}/members")
    before = {
        r.id: (r.centroid_cos, r.cell)
        for r in spark.read.parquet(f"{root}/members").collect()
    }
    ivf_retire(spark, root, _tomb(spark, [13, 14]))
    after = {
        r.id: (r.centroid_cos, r.cell)
        for r in spark.read.parquet(f"{root}/members").collect()
    }
    assert after == {i: v for i, v in before.items() if i not in (13, 14)}


def _docs(spark):
    rows = [
        (1, "spark hash join spark"),
        (2, "unique zebra token"),
        (3, "spark window sort"),
        (4, "zebra spark merge"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _index_state(idx):
    return (
        sorted(tuple(r) for r in idx.postings.select("term", "id", "tf", "dl").collect()),
        sorted(tuple(r) for r in idx.dfs.collect()),
        sorted(tuple(r) for r in idx.stats.collect()),
    )


def test_bm25_retire_equals_rebuild(spark):
    """The algebraic inverse really is one: retiring doc 2 from the
    index equals rebuilding over the surviving corpus — postings, dfs
    (terms unique to the retired doc DROP, shared terms decrement) and
    stats, table for table. Search over the retired index never returns
    the doc and scores everything else exactly as the rebuild does."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    full = bm25_index(_docs(spark))
    retired = bm25_retire(full, _tomb(spark, [2]))
    rebuilt = bm25_index(_docs(spark).filter(F.col("doc_id") != 2))
    assert _index_state(retired) == _index_state(rebuilt)
    # df semantics spot-checks on top of the table equality
    dfs = {r.term: r.df for r in retired.dfs.collect()}
    assert "unique" not in dfs and "token" not in dfs  # df reached 0
    assert dfs["zebra"] == 1  # decremented, not dropped
    qs = spark.createDataFrame(
        [(0, "zebra spark")], "query_id bigint, text string"
    )
    hits = bm25_search(qs, retired, k=4).collect()
    assert 2 not in {r.doc_id for r in hits}
    want = {
        (r.query_id, r.doc_id): r.score for r in bm25_search(qs, rebuilt, k=4).collect()
    }
    got = {(r.query_id, r.doc_id): r.score for r in hits}
    assert got == want  # bit-equal: same index ⇒ same scores


def test_bm25_retire_noop_and_absent_ids(spark):
    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index

    full = bm25_index(_docs(spark))
    # retiring ids the index never held changes nothing
    same = bm25_retire(full, _tomb(spark, [99, 100]))
    assert _index_state(same) == _index_state(full)


def test_bm25_retire_path_inplace_and_swap(spark, tmp_path):
    from auraverse_etl_pipeline_spark.operators.retrieval import Bm25Index, bm25_index

    src = str(tmp_path / "bm25")
    bm25_index(_docs(spark)).save(src)
    # swap spelling: source untouched, dst holds the retired index
    dst = str(tmp_path / "bm25_v2")
    swapped = bm25_retire_path(spark, src, _tomb(spark, [2]), dst_path=dst)
    assert {r.id for r in swapped.postings.select("id").distinct().collect()} == {1, 3, 4}
    assert Bm25Index.load(spark, src).stats.collect()[0].n_docs == 4
    # in-place spelling: the same path, behind the checkpoint cut
    inplace = bm25_retire_path(spark, src, _tomb(spark, [2]))
    assert _index_state(inplace) == _index_state(Bm25Index.load(spark, dst))
    assert Bm25Index.load(spark, src).stats.collect()[0].n_docs == 3


def test_log_retire_inplace_swap_and_reliable(spark, tmp_path, checkpoint_dir):
    path = str(tmp_path / "decisions")
    spark.createDataFrame(
        [(i, 1, i % 2 == 0) for i in range(1, 7)], "id bigint, batch_id bigint, kept boolean"
    ).write.parquet(path)
    # swap spelling first (source intact for the in-place pass)
    dst = str(tmp_path / "decisions_v2")
    out = log_retire(spark, path, _tomb(spark, [2, 5]), dst_path=dst)
    assert {r.id for r in out.collect()} == {1, 3, 4, 6}
    assert spark.read.parquet(path).count() == 6
    # in-place, reliable flavor: survivors go through the fault-
    # tolerant checkpoint dir before the destructive overwrite
    out2 = log_retire(spark, path, _tomb(spark, [2, 5]))
    assert {r.id for r in out2.collect()} == {1, 3, 4, 6}
    assert glob.glob(f"{checkpoint_dir}/*/rdd-*"), "no reliable checkpoint written"
    # idempotent: retiring again short-circuits (ids already gone →
    # None = "nothing rewrote", the r16 signal contract) and the disk
    # survivor set is unchanged
    assert log_retire(spark, path, _tomb(spark, [2, 5])) is None
    assert {r.id for r in spark.read.parquet(path).collect()} == {1, 3, 4, 6}


def test_quantizer_drift_audit_planted_drift(spark):
    """A planted drifting cell trips the retrain flag; a stable cell
    does not — and the fixed-point means equal exact arithmetic."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        _DRIFT_FIXED_POINT,
        quantizer_drift_audit,
    )

    rows = []
    # cell 0: healthy (avg ~0.95 in every batch)
    for b in range(3):
        rows += [(i + 100 * b, 0, b, 0.95 + 0.001 * i) for i in range(4)]
    # cell 1: drifting (0.95 → 0.70)
    for b, base in enumerate((0.95, 0.85, 0.70)):
        rows += [(i + 100 * b + 50, 1, b, base + 0.001 * i) for i in range(4)]
    log = spark.createDataFrame(
        rows, "id bigint, cell int, batch_id bigint, centroid_cos double"
    )
    out = {r.cell: r for r in quantizer_drift_audit(log, drift_threshold=0.05).collect()}
    assert set(out) == {0, 1}
    for c in (0, 1):
        assert out[c].n_batches == 3
        assert (out[c].first_batch, out[c].last_batch) == (0, 2)
        assert (out[c].n_first, out[c].n_last) == (4, 4)
    assert not out[0].retrain and abs(out[0].drift) < 0.01
    assert out[1].retrain and out[1].drift < -0.2

    import math

    fx = _DRIFT_FIXED_POINT
    want_first = (
        sum(math.floor((0.95 + 0.001 * i) * fx) for i in range(4)) / 4.0 / fx
    )
    assert out[1].avg_cos_first == want_first


def test_quantizer_drift_audit_single_batch_no_flag(spark):
    """One batch = no trend: first == last, drift exactly 0.0."""
    from auraverse_etl_pipeline_spark.operators.similarity import quantizer_drift_audit

    log = spark.createDataFrame(
        [(1, 0, 7, 0.9), (2, 0, 7, 0.8)],
        "id bigint, cell int, batch_id bigint, centroid_cos double",
    )
    r = quantizer_drift_audit(log).collect()[0]
    assert r.n_batches == 1 and r.first_batch == r.last_batch == 7
    assert r.drift == 0.0 and not r.retrain
    assert r.avg_cos_first == r.avg_cos_last


def test_log_retire_covers_minhash_signature_index(spark, tmp_path):
    """The MinHash signature index is a flat id-keyed table — the same
    log_retire spelling erases a retired doc's signature, after which
    minhash_match_index can never match against it."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_index,
        minhash_match_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark plans"),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "minhash_idx")
    minhash_index(docs).write.parquet(path)
    tomb = _tomb(spark, [1]).withColumnRenamed("id", "doc_id")
    kept = log_retire(spark, path, tomb, id_col="doc_id")
    assert [r.doc_id for r in kept.collect()] == [2]
    # a verbatim re-ingest of the retired text no longer matches
    arrival = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    matches = minhash_match_index(arrival, spark.read.parquet(path))
    assert matches.count() == 0


def test_gate_tombstones_block_reingest_of_retired_id(spark, tmp_path):
    """Retirement survives re-ingest: ivf_retire erases id 12 from the
    gate index, and with tombstones_path set the gate drops a
    re-arrival of 12 silently (no decision row, no membership) while a
    genuinely new arrival in the same batch passes normally."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.streaming.ops import run_stream_semdedup_gate
    from auraverse_etl_pipeline_spark.streaming.sources import stage_ordered_batches

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    root = tmp_path / "tomb_gate"
    idx.centroids.write.parquet(str(root / "centroids"))
    members = idx.assignments.withColumn("centroid_cos", F.lit(1.0))
    members.repartition("cell").write.partitionBy("cell").parquet(
        str(root / "members")
    )
    tomb_path = str(tmp_path / "tombstones")
    _tomb(spark, [12]).write.parquet(tomb_path)
    ivf_retire(spark, str(root), spark.read.parquet(tomb_path))
    assert 12 not in {
        r.id for r in spark.read.parquet(str(root / "members")).collect()
    }

    schema = "vec_id bigint, embedding array<double>"
    batch = [
        (12, [0.99, 0.1, 0.0]),       # the retired id re-arrives
        (30, [0.5, -0.5, 0.7]),       # novel direction, passes
    ]
    chunks = tmp_path / "tomb_chunks"
    stage_ordered_batches([spark.createDataFrame(batch, schema)], str(chunks))
    svec = spark.readStream.schema(schema).parquet(str(chunks))
    run_stream_semdedup_gate(
        svec, index_path=str(root), threshold=0.999, tombstones_path=tomb_path
    )
    dec = {r.id: r.reason for r in spark.read.parquet(str(root / "decisions")).collect()}
    assert 12 not in dec          # erased linkage never re-created
    assert dec.get(30) == "kept"
    mem = {r.id for r in spark.read.parquet(str(root / "members")).collect()}
    assert 12 not in mem and 30 in mem


def test_retire_then_rebalance_compose(spark, tmp_path):
    """The maintenance passes compose on one persisted index: retire
    part of a hot cell, then the occupancy-driven rebalance splits
    what remains — retired ids stay gone, every survivor stays
    searchable, membership is conserved through both passes."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.streaming.ops import rebalance_gate_index

    rows = [(10, [1.0, 0.0]), (11, [0.0, 1.0])] + [
        (20 + i, [0.9 + 0.01 * i, 0.1]) for i in range(6)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = ivf_index(corpus, nlist=2, quantizer="sample")
    root = tmp_path / "compose"
    idx.centroids.write.parquet(str(root / "centroids"))
    members = idx.assignments.withColumn("centroid_cos", F.lit(1.0))
    members.repartition("cell").write.partitionBy("cell").parquet(
        str(root / "members")
    )
    # cell 0 holds {10, 20..25}: retire two of its members
    ivf_retire(spark, str(root), _tomb(spark, [20, 23]))
    survivors = {r.id for r in spark.read.parquet(str(root / "members")).collect()}
    assert survivors == {10, 11, 21, 22, 24, 25}
    # still over a cap of 3 -> rebalance to the fixed point (each pass
    # halves geometrically - the documented call-again-to-converge
    # contract, pinned as a loop in test_streaming.py)
    split = rebalance_gate_index(spark, str(root), max_cell_size=3)
    assert split == [0]
    for _ in range(5):
        if not rebalance_gate_index(spark, str(root), max_cell_size=3):
            break
    after = spark.read.parquet(str(root / "members"))
    assert {r.id for r in after.collect()} == survivors  # conserved
    sizes = {r.cell: r.n for r in after.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 3 for n in sizes.values())


def test_ivf_retire_reliable_checkpoint_flavor(spark, tmp_path, checkpoint_dir):
    """With a SparkContext checkpoint dir configured, the survivor
    delta materializes through the fault-tolerant dir before the
    destructive partition overwrite (the compact_decisions contract),
    and the retire result is unchanged."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    root = str(tmp_path / "ivf_rel")
    idx.save(root)
    touched = ivf_retire(
        spark, root, _tomb(spark, [12]), members_table="assignments"
    )
    assert touched != []
    assert glob.glob(f"{checkpoint_dir}/*/rdd-*"), "no reliable checkpoint written"
    ids = {r.id for r in spark.read.parquet(f"{root}/assignments").collect()}
    assert ids == {10, 11, 13, 14, 15}


def test_lazy_retirement_ivf_search_exclude(spark, tmp_path):
    """Lucene-liveDocs on the vector tier: search with a tombstone
    exclude returns EXACTLY the physically-retired index's answers
    (per-pair cosines don't depend on corpus stats) — so a take-down
    is unsearchable at the next query, and the partition rewrite can
    wait for the next maintenance pass."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivf_search,
    )

    idx = ivf_index(_corpus(spark), nlist=2, quantizer="sample")
    root = str(tmp_path / "lazy_ivf")
    idx.save(root)
    q = spark.createDataFrame(
        [(0, [0.99, 0.1, 0.0]), (1, [0.0, 0.97, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    tomb = _tomb(spark, [12, 15])
    lazy = ivf_search(
        q, IvfIndex.load(spark, root), k=3, nprobe=2, exact_fold=True,
        clamp=True, exclude=tomb,
    ).collect()
    assert {12, 15}.isdisjoint({r.neighbor_id for r in lazy})
    ivf_retire(spark, root, tomb, members_table="assignments")
    eager = ivf_search(
        q, IvfIndex.load(spark, root), k=3, nprobe=2, exact_fold=True, clamp=True
    ).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.rank, r.cosine) for r in rows)  # noqa: E731
    assert key(lazy) == key(eager)  # bit-identical answers


def test_lazy_retirement_bm25_search_exclude(spark):
    """Lucene-liveDocs on the lexical tier: an excluded doc never
    scores, survivors keep the PRE-retire statistics (Lucene's
    documented stale-df semantics), and the lazy and physical paths
    converge once the compaction-time rewrite runs."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    full = bm25_index(_docs(spark))
    qs = spark.createDataFrame([(0, "zebra spark")], "query_id bigint, text string")
    tomb = _tomb(spark, [2])
    lazy = bm25_search(qs, full, k=4, exclude=tomb).collect()
    assert 2 not in {r.doc_id for r in lazy}
    # stale stats: scores equal the FULL index's scores for survivors
    full_hits = {r.doc_id: r.score for r in bm25_search(qs, full, k=4).collect()}
    assert all(full_hits[r.doc_id] == r.score for r in lazy)
    # after the physical pass the two paths converge on the same docs,
    # now under the corrected statistics
    retired = bm25_retire(full, tomb)
    eager = bm25_search(qs, retired, k=4).collect()
    assert {r.doc_id for r in eager} == {r.doc_id for r in lazy}
    lazy2 = bm25_search(qs, retired, k=4, exclude=tomb).collect()
    key = lambda rows: sorted((r.query_id, r.doc_id, r.rank, r.score) for r in rows)  # noqa: E731
    assert key(lazy2) == key(eager)  # exclude over a clean index is a no-op


def test_log_retire_covers_url_frontier(spark, tmp_path):
    """Erasure on the crawl frontier: the canonical URL is the
    identity (id_col="canon_url"), its row vanishes, and the frontier
    keeps answering for every other URL."""
    path = str(tmp_path / "frontier")
    spark.createDataFrame(
        [("https://a.example/x", 1), ("https://b.example/y", 2), ("https://c.example/z", 3)],
        "canon_url string, first_doc_id bigint",
    ).write.parquet(path)
    tomb = spark.createDataFrame([("https://b.example/y",)], "canon_url string")
    kept = log_retire(spark, path, tomb, id_col="canon_url")
    assert {r.canon_url for r in kept.collect()} == {
        "https://a.example/x", "https://c.example/z"
    }


def test_quantizer_drift_audit_matches_python_model(spark):
    """Exact-float model replica over randomized logs: the audit's
    fixed-point means and drift must equal a pure-Python evaluation
    bit for bit (seeded random cells/batches/cosines — the engine's
    unordered aggregation must never leak into the floats)."""
    import math
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        _DRIFT_FIXED_POINT,
        quantizer_drift_audit,
    )

    fx = _DRIFT_FIXED_POINT
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        rows = [
            (
                i,
                rng.randrange(5),
                rng.randrange(4),
                rng.uniform(-1.0, 1.0),
            )
            for i in range(400)
        ]
        log = spark.createDataFrame(
            rows, "id bigint, cell int, batch_id bigint, centroid_cos double"
        )
        got = {
            r.cell: r
            for r in quantizer_drift_audit(log, drift_threshold=0.05).collect()
        }
        # pure-Python replica (ordering-free: integer sums, then the
        # same two IEEE divisions)
        per = {}
        for _i, cell, batch, cos in rows:
            n, s = per.setdefault(cell, {}).setdefault(batch, [0, 0])
            per[cell][batch] = [n + 1, s + math.floor(cos * fx)]
        for cell, batches in per.items():
            first_b, last_b = min(batches), max(batches)
            nf, sf_ = batches[first_b]
            nl, sl = batches[last_b]
            avg_f = float(sf_) / float(nf) / fx
            avg_l = float(sl) / float(nl) / fx
            r = got[cell]
            assert r.n_batches == len(batches)
            assert (r.first_batch, r.last_batch) == (first_b, last_b)
            assert (r.n_first, r.n_last) == (nf, nl)
            assert r.avg_cos_first == avg_f and r.avg_cos_last == avg_l
            assert r.drift == avg_l - avg_f
            assert r.retrain == (avg_l - avg_f < -0.05)
        assert set(got) == set(per)


def test_retrain_gate_index_parity_vs_duckdb(spark, sf_dir, duck):
    """Staged for round-15 registration (the nDCG precedent): the
    retrain pass replays DIGIT-FOR-DIGIT in DuckDB — sample-init +
    2 clamped-cosine/fixed-point-mean Lloyd rounds over the members,
    then the clamped final assignment — so the expensive maintenance
    pass is engine-reproducible like every other tier. Fixture = the
    sim_quantizer_drift_audit staging (all embeddings assigned against
    the corpus sample quantizer)."""
    import pyspark.sql.functions as SF

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
    )
    from auraverse_etl_pipeline_spark.plans.llm_queries import (
        _IVF_CTES,
        _IVF_NLIST,
        _lloyd_chain,
    )
    from auraverse_etl_pipeline_spark.runtime import scratch_dir
    from auraverse_etl_pipeline_spark.sources.tables import load_table
    from auraverse_etl_pipeline_spark.streaming.ops import retrain_gate_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(
        emb.filter(SF.col("vec_id") >= 10), nlist=_IVF_NLIST, quantizer="sample"
    )
    members = ivf_assign(emb, idx.centroids, clamp=True)
    root = scratch_dir(prefix="retrain_parity_")
    idx.centroids.write.parquet(f"{root}/centroids")
    members.repartition("cell").write.partitionBy("cell").parquet(f"{root}/members")
    retrain_gate_index(spark, root, max_iter=2)
    got = {
        r.id: (r.cell, r.centroid_cos)
        for r in spark.read.parquet(f"{root}/members").collect()
    }

    chain, prev = _lloyd_chain("m", _IVF_NLIST, 2)
    sql = (
        _IVF_CTES
        + f""",
    arr AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS MATERIALIZED (
        SELECT id, v FROM (
            SELECT arr.id, arr.v,
                   ROW_NUMBER() OVER (PARTITION BY arr.id
                       ORDER BY LEAST(CAST(1.0 AS DOUBLE),
                                      list_cosine_similarity(arr.v, cent.centroid))
                                DESC, cent.cell) AS rn
            FROM arr CROSS JOIN cent
        ) WHERE rn = 1
    )"""
        + chain
        + f"""
    SELECT id, cell, cos FROM (
        SELECT m.id, ct.cell,
               LEAST(CAST(1.0 AS DOUBLE),
                     list_cosine_similarity(m.v, ct.centroid)) AS cos,
               ROW_NUMBER() OVER (PARTITION BY m.id
                   ORDER BY LEAST(CAST(1.0 AS DOUBLE),
                                  list_cosine_similarity(m.v, ct.centroid))
                            DESC, ct.cell) AS rn
        FROM m CROSS JOIN {prev} ct
    ) WHERE rn = 1
    """
    )
    want = {r[0]: (r[1], r[2]) for r in duck.execute(sql).fetchall()}
    assert set(got) == set(want)
    assert all(got[i][0] == want[i][0] for i in got)      # cells match
    assert all(got[i][1] == want[i][1] for i in got)      # cosines bit-equal


def test_retire_randomized_end_to_end_invariants(spark, tmp_path):
    """Seeded random corpora/tombstones: the retire invariants hold on
    inputs nobody handcrafted — disk survivors are exactly the set
    difference, no search ever returns a tombstoned id, untouched
    cells' files stay byte-identical, and the BM25 inverse equals the
    rebuild, per seed."""
    import random

    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivf_search,
    )

    words = ["alpha", "beta", "gamma", "delta", "omega", "spark", "plan", "scan"]
    for seed in (3, 11, 29):
        rng = random.Random(seed)
        n = rng.randrange(20, 41)
        rows = [
            (100 + i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n)
        ]
        corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        nlist = rng.randrange(2, 5)
        idx = ivf_index(corpus, nlist=nlist, quantizer="sample")
        root = str(tmp_path / f"rand_{seed}")
        idx.save(root)
        ids = [r[0] for r in rows]
        doomed = sorted(rng.sample(ids, rng.randrange(1, n // 2))) + [999999]
        asg_before = {
            r.id: r.cell for r in spark.read.parquet(f"{root}/assignments").collect()
        }
        cold_cells = {
            c for c in range(nlist)
            if not any(asg_before.get(i) == c for i in doomed)
        }
        cold_files = {
            c: sorted(
                (f, os.stat(f).st_mtime_ns)
                for f in glob.glob(f"{root}/assignments/cell={c}/*.parquet")
            )
            for c in cold_cells
        }
        ivf_retire(spark, root, _tomb(spark, doomed), members_table="assignments")
        survivors = {
            r.id for r in spark.read.parquet(f"{root}/assignments").collect()
        }
        assert survivors == set(ids) - set(doomed), f"seed {seed}"
        for c in cold_cells:
            now = sorted(
                (f, os.stat(f).st_mtime_ns)
                for f in glob.glob(f"{root}/assignments/cell={c}/*.parquet")
            )
            assert now == cold_files[c], f"seed {seed} cell {c}"
        qs = corpus.limit(5)
        hits = ivf_search(
            qs, IvfIndex.load(spark, root), k=4, nprobe=nlist,
            exact_fold=True, clamp=True,
        ).collect()
        assert set(d for d in doomed).isdisjoint(
            {r.neighbor_id for r in hits}
        ), f"seed {seed}"

        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choice(words) for _ in range(rng.randrange(3, 9))))
                for i in ids
            ],
            "doc_id bigint, text string",
        )
        full = bm25_index(docs)
        retired = bm25_retire(full, _tomb(spark, doomed))
        rebuilt = bm25_index(docs.filter(~F.col("doc_id").isin(doomed)))
        assert _index_state(retired) == _index_state(rebuilt), f"seed {seed}"


def test_maintenance_fixture_copy_on_use(spark, sf_dir):
    """The shared day-1 staging (plans.llm_queries._staged_ivf_fixture)
    survives its mutating consumers: index_retire_ids (dynamic
    partition overwrite + in-place log erase) and sim_retrain_audit
    (full members/centroids rewrite) byte-copy the surfaces they
    destroy into their own scratch roots, so a SECOND scoring of
    either query still starts from day-1 state and returns identical
    values — the guarantee that lets three registry queries share one
    staged fixture."""
    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    qs = all_queries()
    for name in ("index_retire_ids", "sim_retrain_audit"):
        fn = qs[name].fn
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first and first == second, name


def test_bm25_fsck_healthy_and_planted_corruption(spark, tmp_path):
    """bm25_fsck reads all-zero on a healthy triple (including one
    that just went through a retire), and each planted corruption
    fires exactly its own check — the lexical twin of
    test_gate_index_fsck_healthy_and_planted_corruption."""
    from auraverse_etl_pipeline_spark.operators.retire import bm25_retire_path
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_fsck,
        bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "beta gamma delta delta"),
            (3, "epsilon alpha"),
            (4, "zeta zeta zeta"),
        ],
        "doc_id bigint, text string",
    )
    root = tmp_path / "bm25_fsck"
    bm25_index(docs).save(str(root))
    healthy = {r.check: r.violations for r in bm25_fsck(spark, str(root)).collect()}
    assert healthy == {
        "df_posting_mismatch": 0,
        "orphan_df_term": 0,
        "duplicate_posting": 0,
        "dl_inconsistent": 0,
        "stats_mismatch": 0,
    }
    # a real retire leaves a consistent triple (df=0 terms dropped,
    # stats subtracted) — fsck stays clean
    bm25_retire_path(
        spark,
        str(root),
        spark.createDataFrame([(4,)], "id bigint"),
        dst_path=str(root) + "_v2",
    )
    after = {
        r.check: r.violations
        for r in bm25_fsck(spark, str(root) + "_v2").collect()
    }
    assert set(after.values()) == {0}

    # planted: a df row whose postings vanished (the bm25_retire
    # crash signature: postings rewritten, dfs not) -> orphan + mismatch
    dfs = spark.read.parquet(str(root / "dfs"))
    dfs.unionByName(
        spark.createDataFrame([("ghostterm", 2)], "term string, df bigint")
    ).localCheckpoint().write.mode("overwrite").parquet(str(root / "dfs"))
    planted = {r.check: r.violations for r in bm25_fsck(spark, str(root)).collect()}
    assert planted["orphan_df_term"] == 1
    assert planted["df_posting_mismatch"] == 1
    assert planted["duplicate_posting"] == 0

    # planted: replay one posting row with a DIFFERENT dl -> duplicate
    # + dl split-brain + df mismatch for its term, stats drift
    one = (
        spark.read.parquet(str(root / "postings"))
        .filter("id = 2")
        .limit(1)
        .withColumn("dl", F.col("dl") + F.lit(7))
        .localCheckpoint()
    )
    one.write.mode("append").parquet(str(root / "postings"))
    planted = {r.check: r.violations for r in bm25_fsck(spark, str(root)).collect()}
    assert planted["duplicate_posting"] == 1
    assert planted["dl_inconsistent"] == 1
    assert planted["stats_mismatch"] == 1


def test_pq_sq_code_table_retire(spark, tmp_path):
    """ivf_retire is schema-agnostic over ANY cell-partitioned members
    layout — pinned here for the compressed-domain families: a
    cell-partitioned PQ code table (id, sub, code — m rows per id) and
    an SQ8 code table (id, codes array<tinyint>). A retired id
    vanishes from the persisted code tables AND from the reconstructed
    search results (ivfpq_search / sq_search over the post-retire disk
    state), cold cells stay byte-untouched, survivors keep every
    per-sub row."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
        sq_encode,
        sq_search,
        sq_stats,
    )

    rng = random.Random(1507)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(24)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = ivf_index(corpus, nlist=4, quantizer="sample")
    root = str(tmp_path / "ivfpq")
    idx.save(root)
    asg = {r.id: r.cell for r in spark.read.parquet(f"{root}/assignments").collect()}

    books = pq_codebooks(corpus, m=2, ksub=4)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    pq_encode(corpus, books, m=2).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/pq_codes")
    stats = sq_stats(corpus)
    sq_encode(corpus, stats).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/sq_codes")

    doomed = [3, 17]
    doomed_cells = {asg[i] for i in doomed}
    cold = [c for c in set(asg.values()) if c not in doomed_cells]
    assert cold, "geometry must leave at least one cold cell"

    def snap(table):
        return {
            c: sorted(
                (f, os.stat(f).st_mtime_ns, os.stat(f).st_size)
                for f in glob.glob(f"{root}/{table}/cell={c}/*.parquet")
            )
            for c in cold
        }

    before = {t: snap(t) for t in ("pq_codes", "sq_codes")}
    tomb = _tomb(spark, doomed)
    ivf_retire(spark, root, tomb, members_table="assignments")
    ivf_retire(spark, root, tomb, members_table="pq_codes")
    ivf_retire(spark, root, tomb, members_table="sq_codes")

    survivors = set(range(24)) - set(doomed)
    pq_left = spark.read.parquet(f"{root}/pq_codes")
    assert {
        r.id for r in pq_left.select("id").distinct().collect()
    } == survivors
    assert pq_left.groupBy("id").count().filter("count != 2").count() == 0
    assert {
        r.id for r in spark.read.parquet(f"{root}/sq_codes").collect()
    } == survivors
    for t in ("pq_codes", "sq_codes"):
        assert snap(t) == before[t], t

    # reconstructed searches over the post-retire disk state: query
    # with the retired vectors themselves — their nearest neighbor
    # would have been their own code row
    qdf = spark.createDataFrame(
        [(100 + i, v) for i, v in rows if i in doomed],
        "vec_id bigint, embedding array<double>",
    )
    loaded = IvfIndex.load(spark, root)
    pq_disk = spark.read.parquet(f"{root}/pq_codes").select("id", "sub", "code")
    hits = ivfpq_search(qdf, loaded, pq_disk, books, k=24, nprobe=4)
    assert {r.neighbor_id for r in hits.collect()}.isdisjoint(doomed)
    sq_disk = spark.read.parquet(f"{root}/sq_codes").select("id", "codes")
    sq_hits = sq_search(qdf, sq_disk, stats, k=24, dim=8)
    assert {r.neighbor_id for r in sq_hits.collect()}.isdisjoint(doomed)


def test_retrain_pq_sq_index_drift_refit(spark, tmp_path):
    """The compressed-family retrain passes (retrain_pq_index /
    retrain_sq_index): codebooks/stats frozen at day 1 go blind on a
    drifted corpus — PQ quantization error blows up, SQ8 components
    outside yesterday's [vmin, vmax] clamp whole dimensions to one
    code. The re-fit reads the members' raw vectors, rewrites
    codes-first/model-last, equals a from-scratch build, improves the
    compressed representation measurably, and is idempotent (second
    run moves nothing); the crash window (new codes under old model)
    heals on re-run."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        sq_encode,
        sq_stats,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import (
        retrain_pq_index,
        retrain_sq_index,
    )

    rng = random.Random(1508)
    day1 = [(i, [rng.uniform(0.3, 1.0) for _ in range(8)]) for i in range(24)]
    drifted = [
        (100 + i, [rng.uniform(-1.0, -0.3) for _ in range(8)]) for i in range(24)
    ]
    a = spark.createDataFrame(day1, "vec_id bigint, embedding array<double>")
    b = spark.createDataFrame(drifted, "vec_id bigint, embedding array<double>")

    root = str(tmp_path / "pqsq")
    idx = ivf_index(b, nlist=4, quantizer="sample")
    idx.save(root)  # members = assignments (id, v, cell) over TODAY's corpus
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books_a = pq_codebooks(a, m=2, ksub=4, quantizer="lloyd", max_iter=2)
    books_a.write.parquet(f"{root}/codebooks")
    pq_encode(b, books_a, m=2).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/pq_codes")
    stats_a = sq_stats(a)
    stats_a.write.parquet(f"{root}/sq_stats")
    sq_encode(b, stats_a).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/sq_codes")

    # day-1 SQ stats clamp EVERY drifted component to the low edge:
    # the whole corpus encodes to one degenerate code array
    degen = {
        tuple(r.codes) for r in spark.read.parquet(f"{root}/sq_codes").collect()
    }
    assert degen == {tuple([-128] * 8)}

    def _pq_err(books_rows):
        cents = {(r.sub, r.code): r.centroid for r in books_rows}
        codes = {
            (r.id, r.sub): r.code
            for r in spark.read.parquet(f"{root}/pq_codes").collect()
        }
        err = 0.0
        for i, v in drifted:
            for sub in (0, 1):
                c = cents[(sub, codes[(i, sub)])]
                s = v[sub * 4 : sub * 4 + 4]
                err += sum((x - y) ** 2 for x, y in zip(s, c))
        return err

    err_before = _pq_err(books_a.collect())
    moved = retrain_pq_index(spark, root, m=2, ksub=4, max_iter=2)
    assert moved > 0
    new_books = spark.read.parquet(f"{root}/codebooks")
    # the re-fit equals a from-scratch deterministic build over the members
    want_books = pq_codebooks(
        spark.read.parquet(f"{root}/assignments"),
        m=2, ksub=4, quantizer="lloyd", max_iter=2, id_col="id", vec_col="v",
    )
    as_set = lambda df: {
        (r.sub, r.code, tuple(r.centroid)) for r in df.collect()
    }
    assert as_set(new_books) == as_set(want_books)
    err_after = _pq_err(new_books.collect())
    assert err_after < err_before / 4, (err_after, err_before)
    # idempotent: the deterministic re-run moves nothing
    assert retrain_pq_index(spark, root, m=2, ksub=4, max_iter=2) == 0
    # crash window: new codes under the OLD codebooks — re-run heals
    # to the same final state
    books_a.write.mode("overwrite").parquet(f"{root}/codebooks")
    retrain_pq_index(spark, root, m=2, ksub=4, max_iter=2)
    assert as_set(spark.read.parquet(f"{root}/codebooks")) == as_set(want_books)

    moved_sq = retrain_sq_index(spark, root)
    assert moved_sq == 24  # every degenerate code array re-encodes
    got_stats = spark.read.parquet(f"{root}/sq_stats").collect()[0]
    want_stats = sq_stats(b).collect()[0]
    assert got_stats.vmin == want_stats.vmin and got_stats.vmax == want_stats.vmax
    re_codes = {
        r.id: tuple(r.codes)
        for r in spark.read.parquet(f"{root}/sq_codes").collect()
    }
    want_codes = {
        r.id: tuple(r.codes)
        for r in sq_encode(b, sq_stats(b)).collect()
    }
    assert re_codes == want_codes
    assert len(set(re_codes.values())) > 1  # no longer one clamped array
    assert retrain_sq_index(spark, root) == 0


def test_pq_drift_audit_fires_and_retrain_clears(spark, tmp_path):
    """The PQ trigger->action loop, mirroring quantizer_drift_audit ->
    retrain_gate_index: batches from the codebooks' own training
    distribution keep quantization error flat (no flag); drifted
    batches raise it past the threshold and flag retrain; after
    retrain_pq_index the re-measured error drops back and a fresh
    post-retrain log reads no flag."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_drift_audit,
        pq_encode,
        pq_quantization_error,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import retrain_pq_index

    rng = random.Random(1509)
    day1 = [(i, [rng.uniform(0.3, 1.0) for _ in range(8)]) for i in range(24)]
    drifted = [
        (100 + i, [rng.uniform(-1.0, -0.3) for _ in range(8)]) for i in range(24)
    ]
    a = spark.createDataFrame(day1, "vec_id bigint, embedding array<double>")
    b = spark.createDataFrame(drifted, "vec_id bigint, embedding array<double>")
    books_a = pq_codebooks(a, m=2, ksub=4, quantizer="lloyd", max_iter=2)

    # encode log: two batches of in-distribution arrivals, then two
    # drifted ones (batch = id DIV 12 for a, 2 + DIV 12 for b)
    err_a = pq_quantization_error(a, books_a, m=2).withColumn(
        "batch_id", F.expr("id DIV 12")
    )
    err_b = pq_quantization_error(b, books_a, m=2).withColumn(
        "batch_id", F.expr("2 + (id - 100) DIV 12")
    )
    flat = pq_drift_audit(err_a, drift_threshold=0.5).collect()[0]
    assert not flat.retrain and flat.n_batches == 2
    fired = pq_drift_audit(err_a.unionByName(err_b), drift_threshold=0.5).collect()[0]
    assert fired.retrain and fired.n_batches == 4
    assert fired.avg_err_last > fired.avg_err_first + 0.5

    # the action: persist the drifted-corpus index under the stale
    # codebooks, retrain, re-measure
    root = str(tmp_path / "pq_loop")
    ivf_index(b, nlist=4, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books_a.write.parquet(f"{root}/codebooks")
    pq_encode(b, books_a, m=2).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/pq_codes")
    assert retrain_pq_index(spark, root, m=2, ksub=4, max_iter=2) > 0

    new_books = spark.read.parquet(f"{root}/codebooks")
    err_new = pq_quantization_error(b, new_books, m=2).withColumn(
        "batch_id", F.expr("(id - 100) DIV 12")
    )
    cleared = pq_drift_audit(err_new, drift_threshold=0.5).collect()[0]
    assert not cleared.retrain
    mean = lambda df: sum(r.qerr for r in df.select("qerr").collect()) / 24
    assert mean(err_new) < mean(err_b) / 4


def test_retire_then_pq_retrain_composition(spark, tmp_path):
    """Take-down composed with the codebook re-fit: retrain_pq_index
    derives codes from the MEMBERS table, so after ivf_retire hits
    both surfaces the re-encoded codes stay free of retired ids (no
    resurrection) and the re-fit trains on survivors only (bit-equal
    to a from-scratch build over the post-retire members). The
    converse is the documented contract, pinned here deliberately: a
    retire that skipped the members table IS resurrected by the next
    retrain — members are the source of truth, which is why ivf_retire
    targets them, with the code tables as followers."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import retrain_pq_index

    rng = random.Random(1510)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(24)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    doomed = [5, 13]

    def stage(name):
        root = str(tmp_path / name)
        ivf_index(corpus, nlist=4, quantizer="sample").save(root)
        cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
        books = pq_codebooks(corpus, m=2, ksub=4, quantizer="lloyd", max_iter=2)
        books.write.parquet(f"{root}/codebooks")
        pq_encode(corpus, books, m=2).join(cells, "id").repartition(
            "cell"
        ).write.partitionBy("cell").parquet(f"{root}/pq_codes")
        return root

    # correct composition: retire both surfaces, then retrain
    root = stage("both")
    ivf_retire(spark, root, _tomb(spark, doomed), members_table="assignments")
    ivf_retire(spark, root, _tomb(spark, doomed), members_table="pq_codes")
    retrain_pq_index(spark, root, m=2, ksub=4, max_iter=2)
    code_ids = {r.id for r in spark.read.parquet(f"{root}/pq_codes").collect()}
    assert code_ids == set(range(24)) - set(doomed)
    want = pq_codebooks(
        spark.read.parquet(f"{root}/assignments"),
        m=2, ksub=4, quantizer="lloyd", max_iter=2, id_col="id", vec_col="v",
    )
    as_set = lambda df: {(r.sub, r.code, tuple(r.centroid)) for r in df.collect()}
    assert as_set(spark.read.parquet(f"{root}/codebooks")) == as_set(want)

    # documented converse: codes-only retire resurrects on retrain
    root2 = stage("codes_only")
    ivf_retire(spark, root2, _tomb(spark, doomed), members_table="pq_codes")
    assert {
        r.id for r in spark.read.parquet(f"{root2}/pq_codes").collect()
    } == set(range(24)) - set(doomed)
    retrain_pq_index(spark, root2, m=2, ksub=4, max_iter=2)
    assert {
        r.id for r in spark.read.parquet(f"{root2}/pq_codes").collect()
    } == set(range(24))


def test_bm25_fsck_randomized_corruption_sweep(spark, tmp_path):
    """Seeded random corpora + random take-downs: a triple that went
    through bm25_retire_path always fscks clean, and one random
    corruption per seed fires its signature check."""
    import random

    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_fsck,
        bm25_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for seed in range(4):
        rng = random.Random(2000 + seed)
        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choice(words) for _ in range(rng.randrange(2, 8))))
                for i in range(12)
            ],
            "doc_id bigint, text string",
        )
        root = str(tmp_path / f"fz{seed}")
        bm25_index(docs).save(root)
        doomed = rng.sample(range(12), rng.randrange(1, 4))
        bm25_retire_path(
            spark, root, _tomb(spark, doomed), dst_path=root + "_v2"
        )
        clean = {
            r.check: r.violations for r in bm25_fsck(spark, root + "_v2").collect()
        }
        assert set(clean.values()) == {0}, (seed, clean)
        # one random corruption on the retired triple
        kind = rng.choice(["orphan_df", "dup_posting", "stats"])
        if kind == "orphan_df":
            spark.createDataFrame(
                [(f"ghost{seed}", 1)], "term string, df bigint"
            ).write.mode("append").parquet(root + "_v2/dfs")
            out = {
                r.check: r.violations
                for r in bm25_fsck(spark, root + "_v2").collect()
            }
            assert out["orphan_df_term"] == 1 and out["df_posting_mismatch"] == 1
        elif kind == "dup_posting":
            spark.read.parquet(root + "_v2/postings").limit(
                1
            ).localCheckpoint().write.mode("append").parquet(root + "_v2/postings")
            out = {
                r.check: r.violations
                for r in bm25_fsck(spark, root + "_v2").collect()
            }
            assert out["duplicate_posting"] == 1
        else:
            st = spark.read.parquet(root + "_v2/stats")
            st.selectExpr(
                "CAST(n_docs + 1 AS BIGINT) AS n_docs",
                "CAST(total_len AS BIGINT) AS total_len",
            ).localCheckpoint().write.mode("overwrite").parquet(root + "_v2/stats")
            out = {
                r.check: r.violations
                for r in bm25_fsck(spark, root + "_v2").collect()
            }
            assert out["stats_mismatch"] == 1


def test_bm25_fsck_duplicated_stats_row_fires(spark, tmp_path):
    """N identical CORRECT stats rows compare clean row-by-row but
    double every downstream stats crossJoin — fsck counts the row
    surplus as a stats_mismatch violation (and an emptied stats table
    likewise)."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        bm25_fsck,
        bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma gamma")],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "dupstats")
    bm25_index(docs).save(root)
    good = spark.read.parquet(f"{root}/stats")
    good.localCheckpoint().write.mode("append").parquet(f"{root}/stats")
    out = {r.check: r.violations for r in bm25_fsck(spark, root).collect()}
    assert out["stats_mismatch"] == 1
    assert out["df_posting_mismatch"] == 0
    # zero-row stats: starved crossJoins downstream — also a violation
    good.limit(0).localCheckpoint().write.mode("overwrite").parquet(
        f"{root}/stats"
    )
    out = {r.check: r.violations for r in bm25_fsck(spark, root).collect()}
    assert out["stats_mismatch"] == 1


def test_pq_drift_audit_no_overflow_on_unnormalized_vectors(spark):
    """qerr is only small for unit-normalized vectors; a raw-embedding
    log (norm ~100 at dim 64 -> qerr ~1e6) must trend exactly instead
    of wrapping a 64-bit fixed-point sum into garbage."""
    from auraverse_etl_pipeline_spark.operators.similarity import pq_drift_audit

    big = 1.0e6
    rows = [(i % 2, big + float(i % 2)) for i in range(4096)]
    log = spark.createDataFrame(rows, "batch_id bigint, qerr double")
    out = pq_drift_audit(log, drift_threshold=0.5).collect()[0]
    assert out.n_first == 2048 and out.n_last == 2048
    assert abs(out.avg_err_first - big) < 1e-6
    assert abs(out.avg_err_last - (big + 1.0)) < 1e-6
    assert abs(out.drift - 1.0) < 1e-6 and out.retrain


def test_staged_fixture_group_retry_overwrites_debris(spark, sf_dir):
    """A staging killed mid-write leaves the path behind while the
    group stays unmarked — the retry must replace the debris, not die
    on path-already-exists."""
    from auraverse_etl_pipeline_spark.plans.llm_queries import (
        _IVF_FIXTURE_STAGED,
        _staged_ivf_fixture,
    )

    root = _staged_ivf_fixture(spark, sf_dir, "drift_log", "decisions", "retrain")
    before = spark.read.parquet(f"{root}/drift_log").count()
    # simulate the crash: files exist, but the group was never marked
    for g in ("drift_log", "decisions", "retrain"):
        _IVF_FIXTURE_STAGED.discard((sf_dir, g))
    root2 = _staged_ivf_fixture(spark, sf_dir, "drift_log", "decisions", "retrain")
    assert root2 == root
    assert spark.read.parquet(f"{root}/drift_log").count() == before
    assert spark.read.parquet(f"{root}/retrain/centroids").count() > 0


def test_sq_clamp_audit_fires_and_retrain_clears(spark, tmp_path):
    """The SQ trigger->action loop: in-distribution batches keep the
    saturated-component fraction at the healthy baseline (the range
    endpoints themselves clamp by construction); a shifted corpus
    saturates everything and flags; after retrain_sq_index the fresh
    codes' fraction is back under the threshold."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        sq_clamp_audit,
        sq_encode,
        sq_stats,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import retrain_sq_index

    rng = random.Random(1511)
    day1 = [(i, [rng.uniform(0.3, 1.0) for _ in range(8)]) for i in range(24)]
    drifted = [
        (100 + i, [rng.uniform(-1.0, -0.3) for _ in range(8)]) for i in range(24)
    ]
    a = spark.createDataFrame(day1, "vec_id bigint, embedding array<double>")
    b = spark.createDataFrame(drifted, "vec_id bigint, embedding array<double>")
    stats_a = sq_stats(a)

    log_a = sq_encode(a, stats_a).withColumn("batch_id", F.expr("id DIV 12"))
    healthy = sq_clamp_audit(log_a, clamp_threshold=0.25).collect()[0]
    assert not healthy.retrain and healthy.n_batches == 2
    log_b = sq_encode(b, stats_a).withColumn(
        "batch_id", F.expr("2 + (id - 100) DIV 12")
    )
    fired = sq_clamp_audit(log_a.unionByName(log_b)).collect()[0]
    assert fired.retrain and fired.clamp_frac_last == 1.0  # fully saturated

    # the action clears it: persist, retrain, re-audit the fresh codes
    root = str(tmp_path / "sq_loop")
    ivf_index(b, nlist=4, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    stats_a.write.parquet(f"{root}/sq_stats")
    sq_encode(b, stats_a).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/sq_codes")
    assert retrain_sq_index(spark, root) > 0
    fresh = (
        spark.read.parquet(f"{root}/sq_codes")
        .select("id", "codes")
        .withColumn("batch_id", F.expr("(id - 100) DIV 12"))
    )
    cleared = sq_clamp_audit(fresh, clamp_threshold=0.25).collect()[0]
    assert not cleared.retrain


def test_compressed_index_tick_runs_the_triad(spark, tmp_path):
    """One cron-able tick for the compressed family, each stage on its
    own evidence: the tombstoned ids vanish from members, BOTH code
    tables and the encode log; the drifted qerr log fires the PQ
    re-fit exactly once (tick 2 is watermarked to a no-op on the same
    log); the saturated SQ codes fire the SQ re-fit, which
    self-quenches (tick 2 measures the fresh codes)."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        pq_quantization_error,
        sq_encode,
        sq_stats,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_tick

    rng = random.Random(1512)
    day1 = [(i, [rng.uniform(0.3, 1.0) for _ in range(8)]) for i in range(24)]
    drifted = [
        (100 + i, [rng.uniform(-1.0, -0.3) for _ in range(8)]) for i in range(24)
    ]
    a = spark.createDataFrame(day1, "vec_id bigint, embedding array<double>")
    both = spark.createDataFrame(day1 + drifted, "vec_id bigint, embedding array<double>")

    root = str(tmp_path / "ctick")
    ivf_index(both, nlist=4, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books_a = pq_codebooks(a, m=2, ksub=4, quantizer="lloyd", max_iter=2)
    books_a.write.parquet(f"{root}/codebooks")
    pq_encode(both, books_a, m=2).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/pq_codes")
    stats_a = sq_stats(a)
    stats_a.write.parquet(f"{root}/sq_stats")
    sq_encode(both, stats_a).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/sq_codes")
    pq_quantization_error(both, books_a, m=2).withColumn(
        "batch_id",
        F.expr("CASE WHEN id < 100 THEN id DIV 12 ELSE 2 + (id - 100) DIV 12 END"),
    ).write.parquet(f"{root}/encode_log")
    doomed = [5, 113]
    tomb_path = str(tmp_path / "ctick_tomb")
    _tomb(spark, doomed).write.parquet(tomb_path)

    out = compressed_index_tick(
        spark, root, tombstones_path=tomb_path, m=2, ksub=4, max_iter=2
    )
    assert out["retired"] == ["assignments", "pq_codes", "sq_codes", "encode_log"]
    assert out["pq_retrained"] and out["pq_moved"] > 0
    assert out["sq_retrained"] and out["sq_moved"] > 0
    survivors = {i for i, _ in day1 + drifted} - set(doomed)
    for table in ("assignments", "pq_codes", "sq_codes", "encode_log"):
        ids = {r.id for r in spark.read.parquet(f"{root}/{table}").collect()}
        assert ids == survivors, table
    # the PQ re-fit trained on the POST-RETIRE members
    want = pq_codebooks(
        spark.read.parquet(f"{root}/assignments"),
        m=2, ksub=4, quantizer="lloyd", max_iter=2, id_col="id", vec_col="v",
    )
    as_set = lambda df: {(r.sub, r.code, tuple(r.centroid)) for r in df.collect()}
    assert as_set(spark.read.parquet(f"{root}/codebooks")) == as_set(want)
    # the SQ re-fit de-saturated the drifted half: the degenerate
    # all-clamped array is gone and the codes carry real variety
    fresh = {tuple(r.codes) for r in spark.read.parquet(f"{root}/sq_codes").collect()}
    assert tuple([-128] * 8) not in fresh
    assert len(fresh) > 1

    # tick 2: nothing left to do — retire idempotent, PQ watermarked,
    # SQ self-quenched
    out2 = compressed_index_tick(
        spark, root, tombstones_path=tomb_path, m=2, ksub=4, max_iter=2
    )
    assert out2 == {
        "retired": [],
        "pq_retrained": False,
        "pq_moved": 0,
        "sq_retrained": False,
        "sq_moved": 0,
    }


def test_sq_clamp_audit_constant_dims_excluded_with_stats(spark, tmp_path):
    """A constant (zero-padded) dimension codes -128 by construction,
    and a re-fit derives the same degenerate range — with the stats
    frame passed, the audit excludes those dims from both sides of the
    fraction so they can never flag a retrain the re-fit cannot clear;
    the tick stays self-quenching on padded corpora."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        sq_clamp_audit,
        sq_encode,
        sq_stats,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_tick

    rng = random.Random(1513)
    # 2 live dims + 6 zero-padded: 75% of components code -128 forever
    rows = [
        (i, [rng.uniform(0.3, 1.0), rng.uniform(0.3, 1.0)] + [0.0] * 6)
        for i in range(24)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats = sq_stats(corpus)
    log = sq_encode(corpus, stats).withColumn("batch_id", F.lit(0))
    naive = sq_clamp_audit(log, clamp_threshold=0.25).collect()[0]
    assert naive.retrain  # the stats-free audit IS fooled by padding
    aware = sq_clamp_audit(log, clamp_threshold=0.25, stats=stats).collect()[0]
    assert not aware.retrain
    assert aware.clamp_frac_last < 0.25

    # the tick (which passes stats) does not fire SQ retrain every run
    root = str(tmp_path / "padded")
    ivf_index(corpus, nlist=2, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    stats.write.parquet(f"{root}/sq_stats")
    sq_encode(corpus, stats).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/sq_codes")
    out = compressed_index_tick(spark, root)
    assert out["sq_retrained"] is False


def test_log_retire_short_circuits_untouched_log(spark, tmp_path):
    """A standing tombstone table whose ids are all long gone from the
    log must not trigger a full read-checkpoint-overwrite per tick —
    the untouched log's files stay byte-identical."""
    import glob
    import os

    path = str(tmp_path / "log")
    spark.createDataFrame(
        [(i, True) for i in range(10)], "id bigint, kept boolean"
    ).write.parquet(path)
    before = sorted(
        (f, os.stat(f).st_mtime_ns, os.stat(f).st_size)
        for f in glob.glob(f"{path}/*.parquet")
    )
    out = log_retire(spark, path, _tomb(spark, [999, 1000]))
    assert out is None  # the "nothing rewrote" signal (advice r15)
    assert spark.read.parquet(path).count() == 10
    after = sorted(
        (f, os.stat(f).st_mtime_ns, os.stat(f).st_size)
        for f in glob.glob(f"{path}/*.parquet")
    )
    assert after == before
    # and a hit still rewrites
    assert log_retire(spark, path, _tomb(spark, [3])).count() == 9


def test_compressed_index_tick_unstamped_encode_log_degrades(spark, tmp_path):
    """An encode_log written straight from pq_quantization_error (no
    batch_id column) degrades the PQ stage to no-audit instead of
    aborting the tick — the gate tick's decisions-column guard."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        pq_quantization_error,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_tick

    rng = random.Random(1514)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(16)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    root = str(tmp_path / "unstamped")
    ivf_index(corpus, nlist=2, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books = pq_codebooks(corpus, m=2, ksub=4, quantizer="lloyd", max_iter=2)
    books.write.parquet(f"{root}/codebooks")
    pq_encode(corpus, books, m=2).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/pq_codes")
    pq_quantization_error(corpus, books, m=2).write.parquet(f"{root}/encode_log")
    out = compressed_index_tick(spark, root, m=2, ksub=4, max_iter=2)
    assert out["pq_retrained"] is False and out["retired"] == []


def test_ivfpq_adc_recall_decays_and_retrain_restores(spark, tmp_path):
    """The SEARCH-side twin of pq_drift_audit: what a user actually
    observes under codebook drift is ADC shortlist recall decay
    against the exact top-k, and retrain_pq_index restoring it. Stale
    day-1 codebooks over a drifted corpus land every subvector far
    from its best centroid, ADC distances flatten, and the shortlist
    goes near-random; the deterministic re-fit brings recall back.
    Same harness shape as sim_ann_recall_audit, pointed at
    ivfpq_search over the persisted compressed surface (nprobe=nlist
    so the coarse stage is exhaustive and the PQ effect is isolated)."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivf_index,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import retrain_pq_index

    rng = random.Random(1601)
    day1 = [(i, [rng.uniform(0.3, 1.0) for _ in range(8)]) for i in range(24)]
    drifted = [
        (100 + i, [rng.uniform(-1.0, -0.1) for _ in range(8)]) for i in range(48)
    ]
    queries = [
        (500 + i, [rng.uniform(-1.0, -0.1) for _ in range(8)]) for i in range(6)
    ]
    a = spark.createDataFrame(day1, "vec_id bigint, embedding array<double>")
    b = spark.createDataFrame(drifted, "vec_id bigint, embedding array<double>")
    q = spark.createDataFrame(queries, "vec_id bigint, embedding array<double>")

    books_a = pq_codebooks(a, m=4, ksub=16, quantizer="lloyd", max_iter=4)
    root = str(tmp_path / "ivfpq_recall")
    ivf_index(b, nlist=2, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books_a.write.parquet(f"{root}/codebooks")
    pq_encode(b, books_a, m=4).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/pq_codes")

    # exact L2^2 top-5 ground truth (python-side, 6 x 48)
    def l2(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc += (x - y) * (x - y)
        return acc

    exact = {
        qid: {i for _, i in sorted((l2(qv, v), i) for i, v in drifted)[:5]}
        for qid, qv in queries
    }

    def adc_recall():
        loaded = IvfIndex.load(spark, root)
        codes = spark.read.parquet(f"{root}/pq_codes").select("id", "sub", "code")
        books = spark.read.parquet(f"{root}/codebooks")
        hits = ivfpq_search(
            q, loaded, codes, books, corpus=None, k=5, nprobe=2
        ).collect()
        got: dict = {}
        for r in hits:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got[k] & exact[k]) for k in exact) / (5 * len(exact))

    stale = adc_recall()
    assert retrain_pq_index(spark, root, m=4, ksub=16, max_iter=4) > 0
    restored = adc_recall()
    # measured at this seed: 0.233 stale -> 0.900 retrained
    assert stale < 0.4, f"stale recall unexpectedly healthy: {stale}"
    assert restored >= 0.8, f"retrain did not restore recall: {restored}"
    assert restored > stale


def test_retire_ids_everywhere_one_request_all_surfaces(spark, tmp_path):
    """One erasure request, ONE command, every persisted loop surface
    clean after: retire_ids_everywhere sweeps a single tombstone table
    across the IVF members, both compressed code tables, the encode
    log, the BM25 triple, the decisions log, the MinHash signature
    index and the URL frontier — and a second sweep with the same
    standing tombstones short-circuits everywhere it can."""
    from auraverse_etl_pipeline_spark.operators.dedup import minhash_index
    from auraverse_etl_pipeline_spark.operators.retire import (
        retire_ids_everywhere,
    )
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_index,
    )
    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode,
        pq_quantization_error,
        sq_encode,
        sq_stats,
    )

    # shared id domain (the index_retire_ids posture): vectors 10..25,
    # docs 11/12/14 carry the same ids as their vectors
    emb = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(10, 26)],
        "vec_id bigint, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog"),
            (12, "erase this document entirely from every index"),
            (14, "an unrelated document about spark physical plans"),
        ],
        "doc_id bigint, text string",
    )

    root = str(tmp_path / "ivf")
    ivf_index(emb, nlist=2, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books = pq_codebooks(emb, m=2, ksub=2)
    pq_encode(emb, books, m=2).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/pq_codes")
    sq_encode(emb, sq_stats(emb)).join(cells, "id").repartition(
        "cell"
    ).write.partitionBy("cell").parquet(f"{root}/sq_codes")
    pq_quantization_error(emb, books, m=2).withColumn(
        "batch_id", F.expr("id DIV 8")
    ).write.parquet(f"{root}/encode_log")

    bm25_root = str(tmp_path / "bm25")
    bm25_index(docs).save(bm25_root)
    dec_path = str(tmp_path / "decisions")
    spark.createDataFrame(
        [(i, 1, i % 2 == 0) for i in range(10, 26)],
        "id bigint, batch_id bigint, kept boolean",
    ).write.parquet(dec_path)
    mh_path = str(tmp_path / "minhash_idx")
    minhash_index(docs).write.parquet(mh_path)
    fr_path = str(tmp_path / "frontier")
    spark.createDataFrame(
        [("https://a.example/x", 11), ("https://b.example/y", 12)],
        "canon_url string, first_doc_id bigint",
    ).write.parquet(fr_path)

    # the request: ids 12 and 13, their doc identity, their URL — one
    # column per identity domain, one durable table
    tomb = spark.createDataFrame(
        [(12, 12, "https://b.example/y"), (13, 13, None)],
        "id bigint, doc_id bigint, canon_url string",
    )
    summary = retire_ids_everywhere(
        spark,
        tomb,
        index_paths=[root],
        bm25_paths=[bm25_root],
        log_paths=[(dec_path, "id"), (mh_path, "doc_id"), (fr_path, "canon_url")],
    )
    assert set(summary[root]) == {"assignments", "pq_codes", "sq_codes", "encode_log"}
    assert summary[dec_path] == ["log"]
    assert summary[mh_path] == ["log"]
    assert summary[fr_path] == ["log"]

    gone = {12, 13}
    for table in ("assignments", "pq_codes", "sq_codes", "encode_log"):
        left = {r.id for r in spark.read.parquet(f"{root}/{table}").select("id").collect()}
        assert left == set(range(10, 26)) - gone, table
    # BM25: indistinguishable from a rebuild over the survivors
    after = Bm25Index.load(spark, bm25_root)
    want = bm25_index(docs.filter("doc_id != 12"))
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select(*sorted(df.columns)).collect())
    )
    assert key(after.postings) == key(want.postings)
    assert key(after.dfs) == key(want.dfs)
    assert key(after.stats) == key(want.stats)
    assert {r.id for r in spark.read.parquet(dec_path).collect()} == (
        set(range(10, 26)) - gone
    )
    assert {r.doc_id for r in spark.read.parquet(mh_path).collect()} == {11, 14}
    assert {r.canon_url for r in spark.read.parquet(fr_path).collect()} == {
        "https://a.example/x"
    }

    # second sweep under the standing tombstones: every surface
    # short-circuits — including BM25 (advice r16: probe-first, so a
    # standing tombstone table never forces the full-table rewrite on
    # a clean index, and the reported [] honors the already-clean
    # contract); the postings files must stay byte-untouched
    import glob as _glob
    import os as _os

    before = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(f"{bm25_root}/postings/*.parquet")
    }
    summary2 = retire_ids_everywhere(
        spark,
        tomb,
        index_paths=[root],
        bm25_paths=[bm25_root],
        log_paths=[(dec_path, "id"), (mh_path, "doc_id"), (fr_path, "canon_url")],
    )
    assert summary2[root] == []
    assert summary2[bm25_root] == []
    assert summary2[dec_path] == summary2[mh_path] == summary2[fr_path] == []
    after_mtimes = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(f"{bm25_root}/postings/*.parquet")
    }
    assert after_mtimes == before
    # an absent bm25 root is skipped as already-clean, never an error
    summary3 = retire_ids_everywhere(
        spark, tomb, bm25_paths=[str(tmp_path / "no_such_bm25")]
    )
    assert summary3[str(tmp_path / "no_such_bm25")] == []


def test_pq_encode_with_error_matches_separate_operators(spark):
    """The one-pass encode+log spelling is byte-identical to the two
    operators it fuses — codes to pq_encode (argmin, ties to lowest
    code) and qerr to pq_quantization_error (ordered sub-order fold) —
    so staging an index through it can never drift from what the
    separate paths would commit."""
    import random

    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_encode_with_error,
        pq_quantization_error,
    )

    rng = random.Random(1602)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    books = pq_codebooks(df, m=2, ksub=4)
    codes, log, handle = pq_encode_with_error(df, books, m=2)
    try:
        key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
        assert key(codes) == key(pq_encode(df, books, m=2))
        assert key(log) == key(pq_quantization_error(df, books, m=2))
    finally:
        handle.unpersist()


def _day1_compressed(spark, tmp_path, name="cidx"):
    """A small healthy day-1 IVF-PQ/SQ layout: 16 vectors dim 4,
    nlist=2, m=2/ksub=2, encode log at batch_id 0."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_index,
        pq_codebooks,
        pq_encode_with_error,
        sq_encode,
        sq_stats,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(10, 26)],
        "vec_id bigint, embedding array<double>",
    )
    root = str(tmp_path / name)
    ivf_index(emb, nlist=2, quantizer="sample").save(root)
    cells = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    books = pq_codebooks(emb, m=2, ksub=2)
    books.write.parquet(f"{root}/codebooks")
    codes, log, handle = pq_encode_with_error(emb, books, m=2)
    codes.join(cells, "id").repartition("cell").write.partitionBy("cell").parquet(
        f"{root}/pq_codes"
    )
    log.withColumn("batch_id", F.lit(0).cast("bigint")).write.parquet(
        f"{root}/encode_log"
    )
    handle.unpersist()
    st = sq_stats(emb)
    st.write.parquet(f"{root}/sq_stats")
    sq_encode(emb, st).join(cells, "id").repartition("cell").write.partitionBy(
        "cell"
    ).parquet(f"{root}/sq_codes")
    return root, emb


def _fsck_map(spark, root):
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_fsck

    return {r.check: r.violations for r in compressed_index_fsck(spark, root).collect()}


def test_compressed_index_append_day2(spark, tmp_path):
    """The compressed family's day-2 ingest: a new batch gets cells /
    PQ codes + a stamped log row / SQ codes against the FROZEN day-1
    models, lands on every surface, is immediately searchable from
    disk, and the post-append layout passes fsck clean."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        ivfpq_search,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_append

    root, emb = _day1_compressed(spark, tmp_path)
    batch = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(30, 38)],
        "vec_id bigint, embedding array<double>",
    )
    out = compressed_index_append(spark, root, batch, m=2)
    assert out == {"appended": 8, "pq_appended": 16, "sq_appended": 8, "batch_id": 1}
    log = spark.read.parquet(f"{root}/encode_log")
    assert log.filter("batch_id = 1").count() == 8
    assert _fsck_map(spark, root) == {k: 0 for k in _fsck_map(spark, root)}
    # an appended vector is the exact-refined top hit for itself
    loaded = IvfIndex.load(spark, root)
    codes = spark.read.parquet(f"{root}/pq_codes").select("id", "sub", "code")
    books = spark.read.parquet(f"{root}/codebooks")
    corpus = emb.unionByName(batch)
    q = batch.filter("vec_id = 33")
    hits = ivfpq_search(q, loaded, codes, books, corpus=corpus, k=1, nprobe=2).collect()
    assert [(r.query_id, r.neighbor_id) for r in hits] == [(33, 33)]


def test_compressed_index_append_idempotent_and_crash_heals(spark, tmp_path):
    """Per-surface idempotence: a verbatim re-run appends nothing; a
    crash window where only the code table was written (simulated by
    pre-appending the codes) is observable as orphan codes, and the
    re-run heals every other surface without duplicating the codes."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_encode_with_error,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_append

    root, emb = _day1_compressed(spark, tmp_path)
    batch = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(30, 36)],
        "vec_id bigint, embedding array<double>",
    )
    out1 = compressed_index_append(spark, root, batch, m=2)
    assert out1["appended"] == 6
    out2 = compressed_index_append(spark, root, batch, m=2)
    assert out2 == {"appended": 0, "pq_appended": 0, "sq_appended": 0, "batch_id": None}
    for table, per_id in (("assignments", 1), ("pq_codes", 2), ("sq_codes", 1), ("encode_log", 1)):
        counts = (
            spark.read.parquet(f"{root}/{table}")
            .groupBy("id").count().filter(f"count != {per_id}").count()
        )
        assert counts == 0, table

    # crash window: codes landed, everything else did not
    batch2 = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(50, 54)],
        "vec_id bigint, embedding array<double>",
    )
    books = spark.read.parquet(f"{root}/codebooks")
    cells_all = spark.read.parquet(f"{root}/assignments").select("id", "cell")
    codes, _log, handle = pq_encode_with_error(
        batch2.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
        books, m=2, id_col="id", vec_col="v",
    )
    # crash-window codes: assign cells the same way the append would
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_assign

    cent = spark.read.parquet(f"{root}/centroids")
    acells = ivf_assign(batch2, cent, clamp=True).select("id", "cell")
    codes.join(acells, "id").repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{root}/pq_codes")
    handle.unpersist()
    fs = _fsck_map(spark, root)
    assert fs["orphan_pq_codes"] == 4 and fs["member_without_pq_codes"] == 0
    out3 = compressed_index_append(spark, root, batch2, m=2)
    assert out3["pq_appended"] == 0  # never duplicated
    assert out3["appended"] == 4 and out3["sq_appended"] == 4
    assert out3["batch_id"] == 2  # the log row still lands, next batch
    fs2 = _fsck_map(spark, root)
    assert all(v == 0 for v in fs2.values()), fs2


def test_compressed_index_append_partial_surface_counts(spark, tmp_path):
    """The r17 fused probe/count path: one id pre-present on ONE
    surface only (sq_codes) must be skipped there and appended
    everywhere else, and the returned counts must equal the rows
    actually written per surface (pq = m rows/id, sq/members/log =
    one) — the per-surface missing sets stay independent after the
    probes fused into one checkpointed frame."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import sq_encode
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_append

    root, emb = _day1_compressed(spark, tmp_path)
    batch = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(40, 44)],
        "vec_id bigint, embedding array<double>",
    )
    # pre-land ONE id's SQ rows (a crash between the sq and members
    # writes), in the cell the append itself would pick
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_assign

    st = spark.read.parquet(f"{root}/sq_stats")
    cent = spark.read.parquet(f"{root}/centroids")
    one = batch.filter("vec_id = 41")
    cells = ivf_assign(one, cent, clamp=True).select("id", "cell")
    sq_encode(one, st).join(cells, "id").repartition("cell").write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{root}/sq_codes")

    out = compressed_index_append(spark, root, batch, m=2)
    assert out == {"appended": 4, "pq_appended": 8, "sq_appended": 3, "batch_id": 1}
    # written rows match the returned counts exactly, per surface
    ids = [r.id for r in spark.read.parquet(f"{root}/sq_codes")
           .filter("id >= 40").groupBy("id").count().filter("count != 1").collect()]
    assert ids == []
    assert spark.read.parquet(f"{root}/pq_codes").filter("id >= 40").count() == 8
    assert spark.read.parquet(f"{root}/encode_log").filter("batch_id = 1").count() == 4
    assert all(v == 0 for v in _fsck_map(spark, root).values())


def test_compressed_index_fsck_planted_corruptions(spark, tmp_path):
    """Each fsck check fires on exactly its planted corruption (the
    bm25_fsck discipline)."""
    import pyspark.sql.functions as F

    root, emb = _day1_compressed(spark, tmp_path)
    assert all(v == 0 for v in _fsck_map(spark, root).values())

    # member whose PQ codes vanish + an id double-coded in SQ
    pq = spark.read.parquet(f"{root}/pq_codes").localCheckpoint(eager=True)
    pq.filter("id != 11").repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{root}/pq_codes")
    sq = spark.read.parquet(f"{root}/sq_codes").localCheckpoint(eager=True)
    sq.unionByName(sq.filter("id = 12")).repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{root}/sq_codes")
    # a code row in the wrong cell partition for id 13, and one
    # duplicated (id, sub) row for id 14
    wrong = (
        pq.filter("id = 13 and sub = 0")
        .withColumn("cell", F.lit(1) - F.col("cell"))
    )
    dup = pq.filter("id = 14 and sub = 1")
    wrong.unionByName(dup).repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{root}/pq_codes")
    # an encode-log row for an id no member carries
    spark.createDataFrame([(999, 0.5, 0)], "id bigint, qerr double, batch_id bigint").write.mode(
        "append"
    ).parquet(f"{root}/encode_log")

    fs = _fsck_map(spark, root)
    assert fs["member_without_pq_codes"] == 1          # id 11
    assert fs["duplicate_sq_id"] == 1                  # id 12
    assert fs["pq_cell_disagrees_with_member"] == 1    # id 13
    # (13, 0) exists in both its true and its wrong cell, (14, 1) is
    # the planted replay — both are genuine duplicates
    assert fs["duplicate_pq_code_row"] == 2
    assert fs["pq_code_count_wrong"] == 2              # ids 13, 14 at 3 rows
    # (id 11's zero rows can't appear in a groupBy over present rows —
    # that id is exactly what member_without_pq_codes exists to catch)
    assert fs["encode_log_orphan"] == 1                # id 999
    assert fs["orphan_pq_codes"] == 0
    assert fs["sq_cell_disagrees_with_member"] == 0
    assert fs["duplicate_codebook_entry"] == 0


def test_compressed_index_fsck_empty_codebooks_degrades(spark, tmp_path):
    """A present-but-EMPTY codebooks table (exactly the degenerate
    surface an fsck exists to diagnose) must not crash the checker
    (advice r16: max(sub) over zero rows is None): unknown m degrades
    the pq_code_count_wrong check to 0, every other check still runs,
    and an explicit m= restores the count check."""
    root, emb = _day1_compressed(spark, tmp_path)
    books = spark.read.parquet(f"{root}/codebooks").localCheckpoint(eager=True)
    books.limit(0).write.mode("overwrite").parquet(f"{root}/codebooks")
    fs = _fsck_map(spark, root)
    assert fs["pq_code_count_wrong"] == 0  # unknown m → check skipped
    assert all(v == 0 for v in fs.values())
    # the caller can still supply m and get the real check back
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_fsck

    fs_m = {
        r.check: r.violations
        for r in compressed_index_fsck(spark, root, m=3).collect()
    }
    assert fs_m["pq_code_count_wrong"] > 0  # every id has 2 rows, not 3


def test_compressed_append_then_tick_closed_loop(spark, tmp_path):
    """The compressed family's loop closes end to end: a day-1 tick is
    quiet (one log batch — no trend), an appended DRIFTED batch stamps
    the next batch_id and its qerr rise fires the tick's re-fit, and
    the watermark consumes that evidence so the following tick is
    quiet again (no oscillation on append-only history)."""
    from auraverse_etl_pipeline_spark.streaming.ops import (
        compressed_index_append,
        compressed_index_tick,
    )

    root, emb = _day1_compressed(spark, tmp_path)
    kw = dict(m=2, ksub=2, max_iter=2, qerr_threshold=0.2)
    t1 = compressed_index_tick(spark, root, **kw)
    assert not t1["pq_retrained"]
    drifted = spark.createDataFrame(
        [(i, [9.0 + float(i % 4 == j) for j in range(4)]) for i in range(40, 48)],
        "vec_id bigint, embedding array<double>",
    )
    out = compressed_index_append(spark, root, drifted, m=2)
    assert out["appended"] == 8 and out["batch_id"] == 1
    t2 = compressed_index_tick(spark, root, **kw)
    assert t2["pq_retrained"] and t2["pq_moved"] > 0
    wm = spark.read.parquet(f"{root}/pq_retrain_watermark").collect()
    assert [r.batch_id for r in wm] == [1]
    t3 = compressed_index_tick(spark, root, **kw)
    assert not t3["pq_retrained"]  # evidence consumed, no oscillation
    assert all(v == 0 for v in _fsck_map(spark, root).values())


def test_bm25_maintenance_tick_merge_retire_compact(spark, tmp_path):
    """The lexical family's tick: pending segments fold into the main
    index and a standing tombstone list retires in the SAME rewrite —
    the result is indistinguishable from a from-scratch rebuild over
    (main ∪ segments) minus the tombstones, consumed segments are
    deleted, and a tombstone that indicts a doc living only in a
    segment still dies."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_index,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import bm25_maintenance_tick

    main_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta"), (3, "gamma gamma epsilon")],
        "doc_id bigint, text string",
    )
    seg1_docs = spark.createDataFrame(
        [(4, "alpha zeta"), (5, "eta theta beta")], "doc_id bigint, text string"
    )
    seg2_docs = spark.createDataFrame(
        [(6, "iota kappa")], "doc_id bigint, text string"
    )
    root = str(tmp_path / "bm25")
    segs = str(tmp_path / "segments")
    bm25_index(main_docs).save(root)
    bm25_index(seg1_docs).save(f"{segs}/seg_a")
    bm25_index(seg2_docs).save(f"{segs}/seg_b")
    tomb_path = str(tmp_path / "tomb")
    # doc 2 lives in main, doc 5 ONLY in a pending segment
    spark.createDataFrame([(2,), (5,)], "id bigint").write.parquet(tomb_path)

    out = bm25_maintenance_tick(
        spark, root, segments_path=segs, tombstones_path=tomb_path
    )
    assert out["rewrote"] and out["n_docs_before"] == 3 and out["n_docs_after"] == 4
    assert [s.rsplit("/", 1)[-1] for s in out["merged_segments"]] == ["seg_a", "seg_b"]
    import glob as _glob

    assert _glob.glob(f"{segs}/*") == []  # consumed segments deleted
    after = Bm25Index.load(spark, root)
    want = bm25_index(
        main_docs.unionByName(seg1_docs).unionByName(seg2_docs).filter(
            "doc_id not in (2, 5)"
        )
    )
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select(*sorted(df.columns)).collect())
    )
    assert key(after.postings) == key(want.postings)
    assert key(after.dfs) == key(want.dfs)
    assert key(after.stats) == key(want.stats)


def test_bm25_maintenance_tick_idempotent_and_short_circuit(spark, tmp_path):
    """A leftover already-absorbed segment (the crash-window debris)
    never duplicates postings: the index-wins merge empties its delta,
    the quiet tick short-circuits the rewrite (main files
    byte-untouched) and clears the debris."""
    import glob as _glob
    import os

    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index
    from auraverse_etl_pipeline_spark.streaming.ops import bm25_maintenance_tick

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string"
    )
    seg_docs = spark.createDataFrame([(3, "delta")], "doc_id bigint, text string")
    root = str(tmp_path / "bm25")
    segs = str(tmp_path / "segments")
    bm25_index(docs).save(root)
    bm25_index(seg_docs).save(f"{segs}/seg_a")
    out1 = bm25_maintenance_tick(spark, root, segments_path=segs)
    assert out1["rewrote"] and out1["n_docs_after"] == 3

    # crash-window debris: the same segment reappears after its docs
    # were merged (delete-after-write crashed between the two)
    bm25_index(seg_docs).save(f"{segs}/seg_a")
    before = sorted(
        (f, os.stat(f).st_mtime_ns)
        for f in _glob.glob(f"{root}/*/*.parquet")
    )
    out2 = bm25_maintenance_tick(spark, root, segments_path=segs)
    assert not out2["rewrote"] and out2["n_docs_after"] == 3
    assert _glob.glob(f"{segs}/*") == []  # debris cleared without a rewrite
    after = sorted(
        (f, os.stat(f).st_mtime_ns)
        for f in _glob.glob(f"{root}/*/*.parquet")
    )
    assert after == before  # byte-untouched
    assert (
        spark.read.parquet(f"{root}/postings").groupBy("id", "term").count()
        .filter("count > 1").count() == 0
    )


def test_bm25_maintenance_tick_swap_and_retire_only(spark, tmp_path):
    """The two remaining tick spellings: a retire-only tick (no
    segments dir at all) rewrites in place, and the dst_path
    production swap leaves the source index byte-readable while the
    destination carries the merged+retired result."""
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_index,
    )
    from auraverse_etl_pipeline_spark.streaming.ops import bm25_maintenance_tick

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta")],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "bm25")
    bm25_index(docs).save(root)
    tomb_path = str(tmp_path / "tomb")
    spark.createDataFrame([(2,)], "id bigint").write.parquet(tomb_path)

    out = bm25_maintenance_tick(spark, root, tombstones_path=tomb_path)
    assert out["rewrote"] and out["merged_segments"] == []
    assert out["n_docs_before"] == 3 and out["n_docs_after"] == 2

    # swap spelling: a fresh segment merges into a NEW root
    segs = str(tmp_path / "segments")
    seg_docs = spark.createDataFrame([(4, "epsilon")], "doc_id bigint, text string")
    bm25_index(seg_docs).save(f"{segs}/seg_a")
    dst = str(tmp_path / "bm25_v2")
    out2 = bm25_maintenance_tick(
        spark, root, segments_path=segs, tombstones_path=tomb_path, dst_path=dst
    )
    assert out2["rewrote"] and out2["n_docs_after"] == 3
    assert Bm25Index.load(spark, root).stats.first().n_docs == 2  # source intact
    ids = {r.id for r in Bm25Index.load(spark, dst).postings.select("id").collect()}
    assert ids == {1, 3, 4}
    # advice r16: the swap spelling must NOT consume the segments — dst
    # may still be discarded instead of promoted, and the pending docs
    # are durable nowhere else; cleanup belongs to the caller's
    # post-promotion step (the next in-place tick absorbs them as an
    # index-wins no-op and clears them then)
    import os as _os

    assert _os.path.isdir(f"{segs}/seg_a/postings")
    out3 = bm25_maintenance_tick(spark, dst, segments_path=segs)
    assert not out3["rewrote"]  # index-wins: every segment doc absorbed
    assert not _os.path.exists(f"{segs}/seg_a")  # in-place tick clears them


def test_compressed_tick_trigger_margins(spark, sf_dir):
    """The sim_compressed_tick oracle HARDCODES pq_retrained=TRUE /
    sq_retrained=FALSE, which is only honest while both trigger
    margins stay comfortable (verdict r16 nit #1: drift ~0.148 vs the
    0.1 threshold, saturation ~0.4% vs 25%). This is the automatic
    tripwire the CLAUDE.md "re-probe both margins if testdata
    generation changes" note asked for: recompute both signals from
    the staged fixture exactly as the tick does (post-retire log for
    PQ, current codes + stats for SQ) and fail LOUDLY while the
    registry oracle would still hash-green, as soon as either margin
    thins — PQ must fire with ≥25% headroom above the threshold
    (measured ~48% today), SQ must quench at ≤half the threshold
    (measured ~60× under today)."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_drift_audit,
        sq_clamp_audit,
    )
    from auraverse_etl_pipeline_spark.plans.llm_queries import (
        _PQ_DRIFT_TAU,
        _RETIRE_MOD,
        _RETIRE_REM,
        _staged_ivf_fixture,
    )

    fixture = _staged_ivf_fixture(spark, sf_dir, "compressed")
    # PQ: the tick audits the encode log AFTER the retire stage erased
    # the tombstoned ids' rows — replay that filter, never mutate the
    # shared fixture
    log = spark.read.parquet(f"{fixture}/compressed/encode_log").filter(
        F.col("id") % _RETIRE_MOD != _RETIRE_REM
    )
    pq = pq_drift_audit(log, drift_threshold=_PQ_DRIFT_TAU).first()
    assert pq.retrain, "PQ drift trigger no longer fires — oracle flag is wrong"
    assert pq.drift >= _PQ_DRIFT_TAU * 1.25, (
        f"PQ firing margin collapsed: drift {pq.drift:.4f} is within 25% of "
        f"the {_PQ_DRIFT_TAU} threshold — re-probe sim_compressed_tick's "
        "hardcoded flags before trusting them"
    )
    # SQ: level signal over the post-retire codes, constant dims
    # excluded via stats (the tick's exact spelling)
    codes = spark.read.parquet(f"{fixture}/compressed/sq_codes").filter(
        F.col("id") % _RETIRE_MOD != _RETIRE_REM
    )
    st = spark.read.parquet(f"{fixture}/compressed/sq_stats")
    sq = sq_clamp_audit(
        codes.withColumn("batch_id", F.lit(0)), clamp_threshold=0.25, stats=st
    ).first()
    assert not sq.retrain, "SQ clamp trigger fires — oracle flag is wrong"
    assert sq.clamp_frac_last <= 0.25 / 2, (
        f"SQ quench margin collapsed: saturation {sq.clamp_frac_last:.4f} is "
        "within 2x of the 0.25 threshold — re-probe sim_compressed_tick's "
        "hardcoded flags before trusting them"
    )


def test_compressed_index_append_members_only_layout(spark, tmp_path):
    """An index with no PQ/SQ surfaces (the coarse members-only
    layout) appends members alone — no code table or log appears from
    nowhere, and the re-run stays a no-op."""
    from auraverse_etl_pipeline_spark.operators.similarity import ivf_index
    from auraverse_etl_pipeline_spark.streaming.ops import compressed_index_append

    emb = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in range(10, 18)],
        "vec_id bigint, embedding array<double>",
    )
    root = str(tmp_path / "bare")
    ivf_index(emb, nlist=2, quantizer="sample").save(root)
    batch = spark.createDataFrame(
        [(30, [0.5, 0.5, 0.0, 0.0]), (31, [0.0, 0.0, 0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    out = compressed_index_append(spark, root, batch)
    assert out == {"appended": 2, "pq_appended": 0, "sq_appended": 0, "batch_id": None}
    import os

    assert not os.path.exists(f"{root}/pq_codes")
    assert not os.path.exists(f"{root}/encode_log")
    assert spark.read.parquet(f"{root}/assignments").count() == 10
    out2 = compressed_index_append(spark, root, batch)
    assert out2["appended"] == 0


def test_substring_index_retire_and_reown(spark, tmp_path):
    """The ExactSubstr index is a flat (doc_id)-keyed surface, so
    log_retire IS its take-down path: the retired owner's hash rows
    vanish (the content's first-owner claim dies with the owner —
    matching future ingests through a retired document's rows would
    resurrect the erased linkage), cold owners' rows survive
    byte-equal, and a later re-ingest of the same text becomes the NEW
    owner instead of silently matching the ghost."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        match_substring_index,
        merge_substring_index,
        substring_index,
    )

    k = 3
    rows = [
        (1, "unique retired passage about erasure requests and owners"),
        (2, "совершенно unrelated second document full of other words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "substr_index")
    substring_index(docs, k=k).write.parquet(path)
    before = spark.read.parquet(path)
    # collect eagerly: the pre-rewrite frame's file listing dies with
    # the in-place overwrite (the r14 FAILED_READ_FILE lesson)
    doc2_rows = sorted(
        tuple(r)
        for r in before.filter("doc_id = 2").select("h", "doc_id", "pos").collect()
    )
    n_doc1 = before.filter("doc_id = 1").count()
    assert n_doc1 > 0 and len(doc2_rows) > 0

    survivors = log_retire(
        spark, path, _tomb(spark, [1]).withColumnRenamed("id", "doc_id"),
        id_col="doc_id",
    )
    assert survivors is not None  # the rewrite happened
    after = spark.read.parquet(path)
    assert after.filter("doc_id = 1").count() == 0
    assert (  # survivor rows byte-equal (rewrite may reorder columns)
        sorted(tuple(r) for r in after.select("h", "doc_id", "pos").collect())
        == doc2_rows
    )

    # re-ingest of the SAME text under a new id: no ghost match — the
    # new doc reports zero covered spans and claims ownership on merge
    redo = spark.createDataFrame([(9, rows[0][1])], "doc_id bigint, text string")
    assert match_substring_index(redo, after, k=k).count() == 0
    merged = merge_substring_index(substring_index(redo, k=k), after)
    assert merged.filter("doc_id = 9").count() == n_doc1


def test_reown_substring_index_rebuild_equivalence(spark, tmp_path):
    """The multi-witness take-down: when a retired owner's passage
    still lives in another document, reown_substring_index reassigns
    the orphaned hashes to the surviving keep-first witness — the
    result equals substring_index over the surviving corpus EXACTLY
    (the retire tier's rebuild invariant), and a re-ingest of the
    passage is still caught. Plain log_retire (claim erasure) is the
    documented sole-witness posture pinned above."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        match_substring_index,
        reown_substring_index,
        substring_index,
    )

    k = 3
    shared = "a passage two documents both contain verbatim today"
    rows = [
        (1, f"doc one says {shared}"),
        (2, f"completely different text then {shared} trailing words"),
        (3, "an unrelated third document with its own words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = substring_index(docs, k=k)
    tomb = spark.createDataFrame([(1,)], "doc_id bigint")

    after = reown_substring_index(idx, tomb, docs, k=k)
    want = substring_index(docs.filter("doc_id <> 1"), k=k)
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select("h", "doc_id", "pos").collect())
    )
    assert key(after) == key(want)
    assert after.filter("doc_id = 1").count() == 0
    assert after.filter("doc_id = 2").count() > 0  # doc 2 inherited claims

    # the passage still matches: a re-ingest of the shared text under
    # a new id is covered by doc 2's inherited ownership, where plain
    # claim erasure would have admitted it as unique
    redo = spark.createDataFrame([(9, shared)], "doc_id bigint, text string")
    assert match_substring_index(redo, after, k=k).count() == 1


def test_substring_index_fsck_healthy_and_planted(spark, tmp_path):
    """The fourth family's fsck: all-zero on a healthy index (witness
    check included), and each planted corruption fires exactly its own
    check — a raw double-append trips duplicate_hash, a doc whose text
    was erased under the index trips owner_without_witness, and the
    repair (reown over the surviving corpus) reads clean again."""
    from auraverse_etl_pipeline_spark.operators.dedup import (
        reown_substring_index,
        substring_index,
        substring_index_fsck,
    )

    k = 3
    shared = "a passage two documents both contain verbatim today"
    rows = [
        (1, f"doc one says {shared}"),
        (2, f"other text then {shared} trailing words"),
        (3, "an unrelated third document with its own words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "ss_fsck_index")
    substring_index(docs, k=k).write.parquet(path)

    healthy = {r.check: r.violations for r in substring_index_fsck(
        spark, path, corpus=docs, k=k
    ).collect()}
    assert healthy == {
        "duplicate_hash": 0, "null_field": 0, "negative_pos": 0,
        "owner_without_witness": 0,
    }

    # planted corruption 1: raw double-append of doc 3's rows
    idx = spark.read.parquet(path)
    doc3 = idx.filter("doc_id = 3").localCheckpoint(eager=True)
    n3 = doc3.count()
    doc3.write.mode("append").parquet(path)
    got = {r.check: r.violations for r in substring_index_fsck(spark, path).collect()}
    assert got["duplicate_hash"] == n3 and got["null_field"] == 0

    # planted corruption 2 (fresh index): doc 1 erased from the CORPUS
    # but not the index — every index row doc 1 owns loses its witness
    path2 = str(tmp_path / "ss_fsck_index2")
    substring_index(docs, k=k).write.parquet(path2)
    surviving = docs.filter("doc_id <> 1")
    idx2 = spark.read.parquet(path2)
    n1 = idx2.filter("doc_id = 1").count()
    got2 = {r.check: r.violations for r in substring_index_fsck(
        spark, path2, corpus=surviving, k=k
    ).collect()}
    assert got2["owner_without_witness"] == n1 > 0

    # the repair: reown from the surviving corpus -> clean fsck
    tomb = spark.createDataFrame([(1,)], "doc_id bigint")
    reown_substring_index(idx2, tomb, docs, k=k).localCheckpoint(
        eager=True
    ).write.mode("overwrite").parquet(path2)
    got3 = {r.check: r.violations for r in substring_index_fsck(
        spark, path2, corpus=surviving, k=k
    ).collect()}
    assert set(got3.values()) == {0}
