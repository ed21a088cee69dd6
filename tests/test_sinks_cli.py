"""Sinks + CLI (SURVEY §2.1 S2-S4): write paths, pretty rendering, report."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from auraverse_etl_pipeline_spark.ingest.convert import convert_corpus
from auraverse_etl_pipeline_spark.ingest.pipeline import detect_fragments
from auraverse_etl_pipeline_spark.plans.ingest_queries import fixture_documents
from auraverse_etl_pipeline_spark.sources.sinks import (
    fragment_report,
    merged_json_pretty,
    write_json,
    write_parquet,
)


def test_write_parquet_partitioned(spark, tmp_path):
    frags = detect_fragments(fixture_documents(spark))
    out = str(tmp_path / "frags")
    write_parquet(frags, out, partition_by=["format_type"])
    # partition pruning layout: one dir per format
    dirs = [d for d in os.listdir(out) if d.startswith("format_type=")]
    assert len(dirs) >= 5
    back = spark.read.parquet(out)
    assert back.count() == frags.count()


def test_write_json_roundtrip(spark, tmp_path):
    docs = fixture_documents(spark)
    out = str(tmp_path / "docs_json")
    write_json(docs, out, coalesce=1)
    back = spark.read.json(out)
    assert back.count() == docs.count()


def test_merged_json_pretty_is_indent2(spark):
    pretty = merged_json_pretty(convert_corpus(fixture_documents(spark))).collect()
    assert len(pretty) == 2
    for r in pretty:
        data = json.loads(r.pretty)
        assert isinstance(data, dict) and data
        assert r.pretty.startswith("{\n  ")  # reference output options: indent=2


def test_fragment_report_shape(spark):
    rep = fragment_report(detect_fragments(fixture_documents(spark)))
    assert rep.splitlines()[0].startswith("Detected ")
    assert any("JSON_LD" in line for line in rep.splitlines())


def test_cli_convert_single_file(tmp_path, spark):
    from auraverse_etl_pipeline_spark.cli import main

    src = tmp_path / "doc.txt"
    src.write_text("--- METADATA\nname: Thing\ncount: 3\n", encoding="utf-8")
    out = tmp_path / "out.json"
    assert main(["convert", str(src), str(out)]) == 0
    assert json.loads(out.read_text())["name"] == "Thing"


def test_read_text_corpus_glob(spark, tmp_path):
    """S1 corpus source: one row per file, whole text preserved, doc_id
    stable across re-reads (path-hash, not monotonically_increasing)."""
    from auraverse_etl_pipeline_spark.sources.tables import read_text_corpus

    for i in range(3):
        (tmp_path / f"doc{i}.txt").write_text(f"--- METADATA\nname: d{i}\n\nbody {i}\n")
    docs = read_text_corpus(spark, str(tmp_path / "*.txt"))
    rows = {r.source.rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert len(rows) == 3
    assert rows["doc1.txt"].text.startswith("--- METADATA")
    again = {r.source.rsplit("/", 1)[-1]: r.doc_id for r in docs.collect()}
    assert {k: v.doc_id for k, v in rows.items()} == again


def test_cli_parse_glob(tmp_path, spark, capsys):
    """CLI parse over a glob fans out across documents."""
    from auraverse_etl_pipeline_spark.cli import main

    for i in range(3):
        (tmp_path / f"d{i}.txt").write_text('{"k": %d}\n\nplain prose here for bulk.\n' % i)
    assert main(["parse", str(tmp_path / "*.txt")]) == 0
    out = capsys.readouterr().out
    assert "Detected" in out and "3 document(s)" in out


def test_compact_parquet_bounds_file_count_and_preserves_rows(spark, sf_dir, tmp_path):
    import glob

    from auraverse_etl_pipeline_spark.sources.sinks import compact_parquet, write_parquet
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    frag = str(tmp_path / "fragmented")
    # simulate small-file accretion: 16 writer tasks per partition dir
    write_parquet(ev.repartition(16), frag, partition_by=["event_type"])
    n_frag = len(glob.glob(frag + "/*/*.parquet"))

    compacted = str(tmp_path / "compacted")
    compact_parquet(
        spark, frag, compacted, partition_by=["event_type"], target_partitions=4
    )
    n_comp = len(glob.glob(compacted + "/*/*.parquet"))
    assert n_comp < n_frag
    # hash-partitioned by event_type at 4 tasks -> each partition dir is
    # written by exactly one task
    for d in glob.glob(compacted + "/event_type=*"):
        assert len(glob.glob(d + "/*.parquet")) == 1, d

    a = spark.read.parquet(frag).orderBy("event_id").collect()
    b = spark.read.parquet(compacted).orderBy("event_id").collect()
    assert [tuple(sorted(r.asDict().items())) for r in a] == [
        tuple(sorted(r.asDict().items())) for r in b
    ]


def test_clustered_layout_yields_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Range clustering must give each parquet file a disjoint key range
    (verified from the files' own min/max statistics) - that is what
    lets a predicate scan skip whole files at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    from auraverse_etl_pipeline_spark.sources.sinks import write_clustered_parquet
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    out = str(tmp_path / "clustered")
    write_clustered_parquet(li, out, ["l_orderkey"], num_files=8)

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        col_idx = {md.row_group(0).column(i).path_in_schema: i
                   for i in range(md.row_group(0).num_columns)}["l_orderkey"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)  # disjoint (boundary key may touch)

    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Morton clustering must shrink per-file bounding boxes in BOTH
    key dimensions, where single-key range clustering leaves the second
    key's per-file spread at ~the full global range."""
    import glob

    import pyarrow.parquet as pq

    from auraverse_etl_pipeline_spark.sources.sinks import (
        write_clustered_parquet,
        write_zordered_parquet,
    )
    from auraverse_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    def mean_spread(path, col):
        spreads = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            idx = {md.row_group(0).column(i).path_in_schema: i
                   for i in range(md.row_group(0).num_columns)}[col]
            mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
            spreads.append(max(maxs) - min(mins))
        return sum(spreads) / len(spreads)

    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zorder")
    write_clustered_parquet(li, plain, ["l_orderkey"], num_files=16)
    write_zordered_parquet(li, zord, "l_orderkey", "l_partkey", num_files=16)

    global_part = li.selectExpr("max(l_partkey) - min(l_partkey) AS r").first().r
    # single-key clustering: partkey per file ~ full range
    assert mean_spread(plain, "l_partkey") > 0.9 * global_part
    # z-order: BOTH dims materially bounded per file
    assert mean_spread(zord, "l_partkey") < 0.7 * global_part
    global_order = li.selectExpr("max(l_orderkey) - min(l_orderkey) AS r").first().r
    assert mean_spread(zord, "l_orderkey") < 0.7 * global_order
    assert spark.read.parquet(zord).count() == li.count()


def test_compact_decisions_keeps_latest_per_id(spark, tmp_path):
    """Three appended scoring runs with overlapping ids compact to
    exactly the latest verdict per id (max batch_id), equal to the
    latest-per-id replay of the UNCOMPACTED log, with the small-file
    accretion collapsed; untouched ids keep their original rows."""
    import glob

    from auraverse_etl_pipeline_spark.sources.sinks import compact_decisions

    path = str(tmp_path / "decisions")
    schema = "id bigint, batch_id bigint, kept boolean, reason string"
    b1 = [(i, 1, True, "v1") for i in range(40)]
    b2 = [(i, 2, i % 2 == 0, "v2") for i in range(0, 40, 3)]
    b3 = [(i, 3, False, "v3") for i in range(0, 40, 5)]
    for rows in (b1, b2, b3):
        spark.createDataFrame(rows, schema).coalesce(2).write.mode(
            "append"
        ).parquet(path)
    raw = spark.read.parquet(path)
    # latest-per-id replay of the uncompacted log (the oracle rule)
    expect = {
        r.id: (r.batch_id, r.kept, r.reason)
        for r in raw.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("batch_id").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    n_files_before = len(glob.glob(f"{path}/part-*"))
    out = compact_decisions(spark, path, order_col="batch_id", id_cols=("id",))
    got = {r.id: (r.batch_id, r.kept, r.reason) for r in out.collect()}
    assert got == expect
    assert len(got) == 40  # one row per id, no duplicates survive
    assert got[0] == (3, False, "v3")   # re-scored twice -> batch 3 wins
    assert got[3] == (2, False, "v2")   # re-scored once  -> batch 2 wins
    assert got[1] == (1, True, "v1")    # never re-scored -> batch 1 row
    n_files_after = len(glob.glob(f"{path}/part-*"))
    assert n_files_after < n_files_before  # small files collapsed
    # in-place rewrite: reading the path again sees only the compacted log
    assert spark.read.parquet(path).count() == 40


def test_compact_decisions_to_fresh_path(spark, tmp_path):
    """dst_path mode (the compact-and-swap spelling at real scale)
    leaves the source log untouched."""
    from auraverse_etl_pipeline_spark.sources.sinks import compact_decisions

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    schema = "id bigint, batch_id bigint, verdict string"
    spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema).write.parquet(src)
    spark.createDataFrame([(1, 2, "c")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out = compact_decisions(
        spark, src, order_col="batch_id", id_cols=("id",), dst_path=dst
    )
    assert {(r.id, r.verdict) for r in out.collect()} == {(1, "c"), (2, "b")}
    assert spark.read.parquet(src).count() == 3  # source untouched


def test_compact_decisions_keep_earliest(spark, tmp_path):
    """keep='earliest' is the first-writer-wins retention the URL
    frontier log wants: the FIRST sighting survives, later re-sightings
    compact away."""
    import pytest as _pytest

    from auraverse_etl_pipeline_spark.sources.sinks import compact_decisions

    path = str(tmp_path / "frontier")
    schema = "canon_url string, batch_id bigint, src string"
    spark.createDataFrame(
        [("a", 1, "seed"), ("b", 1, "seed")], schema
    ).write.parquet(path)
    spark.createDataFrame(
        [("a", 2, "recrawl"), ("c", 2, "link")], schema
    ).coalesce(1).write.mode("append").parquet(path)
    out = compact_decisions(
        spark, path, order_col="batch_id", id_cols=("canon_url",), keep="earliest"
    )
    got = {(r.canon_url): (r.batch_id, r.src) for r in out.collect()}
    assert got == {"a": (1, "seed"), "b": (1, "seed"), "c": (2, "link")}
    with _pytest.raises(ValueError):
        compact_decisions(spark, path, order_col="batch_id", keep="newest")


def test_compact_decisions_reliable_checkpoint(spark, tmp_path, checkpoint_dir):
    """In-place compaction with a configured SparkContext checkpoint
    dir auto-upgrades to fault-tolerant checkpoint(): during the
    destructive overwrite the survivors live in the checkpoint dir,
    not in executor-local blocks (one lost executor would otherwise
    lose the only copy of the log). Same values either way."""
    import glob

    from auraverse_etl_pipeline_spark.sources.sinks import compact_decisions

    path = str(tmp_path / "decisions")
    schema = "id bigint, batch_id bigint, kept boolean"
    spark.createDataFrame(
        [(i, 1, True) for i in range(20)], schema
    ).write.parquet(path)
    spark.createDataFrame(
        [(i, 2, False) for i in range(0, 20, 4)], schema
    ).coalesce(1).write.mode("append").parquet(path)
    out = compact_decisions(spark, path, order_col="batch_id")
    got = {r.id: (r.batch_id, r.kept) for r in out.collect()}
    assert got[0] == (2, False) and got[1] == (1, True) and len(got) == 20
    # the survivors really went through the reliable dir
    assert glob.glob(f"{checkpoint_dir}/*/rdd-*"), "no reliable checkpoint written"
