"""The benchmark workloads.

Each workload generates its inputs from the seed (untimed), runs one
closed-loop iteration per :meth:`iterate` call, and checks its
outputs. ``iterate`` returns ``(attempted, failed)`` operation
counts and never raises for a failed operation: a failure is counted
and the iteration stops there.

Spans wrap calls into the program's public functions only; the
program itself is unchanged.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd

import gen
from spec import ANALYTICS_QUERIES
from spans import phase_ms, tree_snapshot, written_since


class Workload:
    name = ""
    #: untimed iterations after set-up, the cold first one included:
    #: the JVM's JIT and the Python workers are still warming in them
    warmups = 2
    #: timed iterations a run makes at least, whatever ``--seconds`` says
    min_timed = 2

    def __init__(self, root: str, work: str, seed: int, tiny: bool, tracer):
        self.root = root
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.tracer = tracer
        self.planted: dict = {}
        self.digest = ""
        self.items_per_iter = 0
        self.extra: dict[str, float] = {}
        #: what the run record keeps beside the metrics
        self.record: dict = {}
        self.notes: list[str] = []

    def generate(self) -> None:
        raise NotImplementedError

    def iterate(self, spark, i: int) -> tuple[int, int]:
        raise NotImplementedError

    def after_iteration(self, spark) -> tuple[int, int, list[str]]:
        """Untimed output checks after each iteration: (attempted, failed, notes)."""
        return 0, 0, []

    def check_once(self, spark) -> tuple[int, int, list[str]]:
        """Output checks outside the timed phase: (attempted, failed, notes)."""
        return 0, 0, []

    def finish(self, layer: dict[str, float] | None) -> None:
        """Fill workload metrics, and derived layer metrics when traced."""

    def _io(self, span, path: str, fn):
        """Return ``fn()``, recording on ``span`` the files it wrote
        under ``path`` (traced runs only)."""
        before = tree_snapshot(path) if self.tracer.enabled else None
        out = fn()
        if before is not None:
            files, nbytes = written_since(before, path)
            span["attrs"]["out_files"] = files
            span["attrs"]["out_mb"] = nbytes / 1e6
        return out


# ---------------------------------------------------------------------------


class Ingest(Workload):
    """detect + summarize, records to parquet, schema over the written
    records, convert to JSON, then the single-document ``parse_file``
    latency pass over every document."""

    name = "ingest"

    def generate(self):
        n = 120 if self.tiny else 250
        self.docs, self.planted = gen.ingest_docs(self.root, self.seed, n)
        self.in_dir = os.path.join(self.work, "in")
        gen.write_jsonl_shards(self.docs, self.in_dir, shards=8)
        self.out_dir = os.path.join(self.work, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.digest = gen.digest(self.docs, self.planted)
        self.items_per_iter = n
        self.parse_ms: list[float] = []
        self.texts = list(self.docs["text"])

    def iterate(self, spark, i):
        from auraverse_etl_pipeline_spark.ingest.api import parse_file
        from auraverse_etl_pipeline_spark.ingest.convert import convert_corpus
        from auraverse_etl_pipeline_spark.ingest.pipeline import (
            consolidated_schema,
            detect_fragments,
            extract_records,
            infer_schema_fields,
            summarize_fragments,
        )
        from auraverse_etl_pipeline_spark.sources.sinks import write_json, write_parquet
        from auraverse_etl_pipeline_spark.sources.tables import read_jsonl_corpus

        tr = self.tracer
        rec_path = os.path.join(self.out_dir, "records")
        conv_path = os.path.join(self.out_dir, "converted")
        with tr.span("sources.read_jsonl_corpus") as sp:
            docs = read_jsonl_corpus(spark, self.in_dir, schema="doc_id bigint, text string")
        with tr.span("ingest.detect_fragments") as sp:
            frags = detect_fragments(docs)
            tr.mark(sp, "built")
            summary = summarize_fragments(frags).collect()
        if sum(r.n_fragments for r in summary) < self.items_per_iter:
            return 2, 1
        with tr.span("ingest.extract_records") as sp:
            records = extract_records(docs)
            tr.mark(sp, "built")
            with tr.span("sources.write_parquet") as wsp:
                self._io(wsp, self.out_dir, lambda: write_parquet(records, rec_path))
        with tr.span("ingest.infer_schema_fields") as sp:
            fields = infer_schema_fields(spark.read.parquet(rec_path))
            tr.mark(sp, "built")
            schema = consolidated_schema(fields).collect()
        if not schema:
            return 4, 1
        with tr.span("ingest.convert_corpus") as sp:
            conv = convert_corpus(docs)
            tr.mark(sp, "built")
            with tr.span("sources.write_json") as wsp:
                self._io(wsp, self.out_dir, lambda: write_json(conv, conv_path))
        failed = 0
        for text in self.texts:
            t0 = time.perf_counter()
            out = parse_file(text)
            self.parse_ms.append((time.perf_counter() - t0) * 1000.0)
            failed += not out["fragments"]
        return 5 + len(self.texts), failed

    def check_once(self, spark):
        """On a seeded sample, Spark fragments, records and fields equal
        ``parse_file`` and merged output equals ``convert_document``;
        the two fixtures reproduce their committed reference output."""
        import pyspark.sql.functions as F

        from auraverse_etl_pipeline_spark.ingest.api import parse_file
        from auraverse_etl_pipeline_spark.ingest.convert import convert_document
        from auraverse_etl_pipeline_spark.ingest.pipeline import (
            detect_fragments,
            infer_schema_fields,
        )

        notes = []
        rng = np.random.default_rng([self.seed, 11])
        sample = sorted(int(x) for x in rng.choice(len(self.docs), min(40, len(self.docs)), replace=False))
        sdocs = self.docs.iloc[sample]
        sdf = spark.createDataFrame(sdocs)
        want = {int(d): parse_file(t) for d, t in zip(sdocs["doc_id"], sdocs["text"])}

        frag_rows = detect_fragments(sdf).collect()
        got_frags: dict[int, list] = {d: [] for d in want}
        for r in frag_rows:
            got_frags[r.doc_id].append((r.format_type, r.start_index, r.end_index, r.text))
        frag_bad = sum(
            sorted(got_frags[d])
            != sorted((f["format_type"], f["start_index"], f["end_index"], f["text"]) for f in w["fragments"])
            for d, w in want.items()
        )
        records = spark.read.parquet(os.path.join(self.out_dir, "records")).filter(
            F.col("doc_id").isin(list(want))
        )
        got_recs: dict[int, list] = {d: [] for d in want}
        for r in records.collect():
            got_recs[r.doc_id].append((r.format, r.start, r.end, r.data))
        # compared as the JSON the program writes: a CSV row's None
        # rest-key only exists as "null" once serialized
        rec_bad = sum(
            sorted(got_recs[d])
            != sorted(
                (x["format"], x["start"], x["end"], json.dumps(x["data"], ensure_ascii=False))
                for x in w["records"]
            )
            for d, w in want.items()
        )
        got_fields: dict[int, list] = {d: [] for d in want}
        for r in infer_schema_fields(records).collect():
            got_fields[r.doc_id].append((r.path, r.type, r.nullable))
        field_bad = sum(
            sorted(got_fields[d]) != sorted((f["path"], f["type"], f["nullable"]) for f in w["fields"])
            for d, w in want.items()
        )
        merged = spark.read.json(os.path.join(self.out_dir, "converted")).filter(
            F.col("doc_id").isin(list(want))
        )
        got_merged = {r.doc_id: r.merged for r in merged.collect()}
        texts = dict(zip(sdocs["doc_id"].astype(int), sdocs["text"]))
        merge_bad = sum(
            got_merged.get(d) != json.dumps(convert_document(texts[d]), ensure_ascii=False)
            for d in want
        )
        ref_bad = 0
        for src, ref in (
            ("messy_doc_1.txt", "input_parsed2.reference.json"),
            ("messy_doc_2.txt", "input2_parsed2.reference.json"),
        ):
            fx = os.path.join(self.root, "tests", "fixtures")
            with open(os.path.join(fx, src), encoding="utf-8") as fh:
                out = json.dumps(convert_document(fh.read()), indent=2, ensure_ascii=False)
            with open(os.path.join(fx, ref), encoding="utf-8") as fh:
                ref_bad += out != fh.read()
        for label, bad in (
            ("fragments", frag_bad),
            ("records", rec_bad),
            ("fields", field_bad),
            ("merged", merge_bad),
            ("reference", ref_bad),
        ):
            if bad:
                notes.append(f"ingest check {label}: {bad} mismatches")
        attempted = 4 * len(want) + 2
        return attempted, frag_bad + rec_bad + field_bad + merge_bad + ref_bad, notes

    def kernel_sample(self, n: int = 100) -> dict[str, float]:
        """Driver-side per-document cost of the Python kernels the
        executor tasks run, on a seeded document sample."""
        from auraverse_etl_pipeline_spark.ingest.convert import convert_document
        from auraverse_etl_pipeline_spark.ingest.detect import detect_document
        from auraverse_etl_pipeline_spark.ingest.normalize import normalize_fragment
        from auraverse_etl_pipeline_spark.ingest.schema_infer import fields_for_data

        rng = np.random.default_rng([self.seed, 12])
        texts = [self.texts[int(k)] for k in rng.choice(len(self.texts), min(n, len(self.texts)), replace=False)]
        t = {"detect_document": 0.0, "normalize_fragment": 0.0, "fields_for_data": 0.0, "convert_document": 0.0}
        for text in texts:
            t0 = time.perf_counter()
            frags = detect_document(text)
            t1 = time.perf_counter()
            datas = [normalize_fragment(f.format_type, f.text, f.meta) for f in frags]
            t2 = time.perf_counter()
            for d in datas:
                if d is not None:
                    fields_for_data(d)
            t3 = time.perf_counter()
            convert_document(text)
            t4 = time.perf_counter()
            t["detect_document"] += t1 - t0
            t["normalize_fragment"] += t2 - t1
            t["fields_for_data"] += t3 - t2
            t["convert_document"] += t4 - t3
        return {k: v * 1000.0 / len(texts) for k, v in t.items()}

    def finish(self, layer):
        self.extra["doc_ms_p50"] = statistics.median(self.parse_ms)
        self.extra["doc_ms_p99"] = float(np.percentile(self.parse_ms, 99))
        self.extra["doc_samples"] = len(self.parse_ms)
        if layer is not None:
            k = self.kernel_sample(30 if self.tiny else 100)
            for name, ms in k.items():
                layer[f"ingest.{name}.ms_per_doc"] = ms
            # the four task-side passes: detect (detect_fragments),
            # detect + normalize (extract_records), fields over the
            # records (infer_schema_fields), convert (convert_corpus)
            kernel_s = self.items_per_iter * (
                2 * k["detect_document"] + k["normalize_fragment"]
                + k["fields_for_data"] + k["convert_document"]
            ) / 1000.0
            run_s = sum(
                layer.get(f"{s}.task_run_s", 0.0)
                for s in ("ingest.detect_fragments", "ingest.extract_records",
                          "ingest.infer_schema_fields", "ingest.convert_corpus")
            )
            layer["ingest.boundary_share"] = 1.0 - kernel_s / run_s if run_s else 0.0
            layer["ingest.parse_file.ms_p50"] = self.extra["doc_ms_p50"]
            layer["ingest.parse_file.ms_p99"] = self.extra["doc_ms_p99"]


# ---------------------------------------------------------------------------


def _canonical_hash(pdf: pd.DataFrame) -> str:
    """Order-independent hash of a result frame (column-name sorted,
    row sorted, dtypes normalized the way the oracle parity test does)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64").map(repr)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        s = s.astype(str)
        cols[c] = s
    rows = sorted(zip(*cols.values())) if cols else []
    return gen.digest(list(cols), rows)


class Analytics(Workload):
    """The six relational registry queries in a seed-permuted order,
    noop sink, cache cleared between queries; then their streaming
    twin, hourly windowed event counts over the same events arriving
    as micro-batches."""

    name = "analytics"
    min_timed = 3
    STREAM_FILES = 3

    def generate(self):
        orders = 2000 if self.tiny else 15000
        tables, self.planted = gen.star_tables(self.seed, orders)
        self.sf_dir = os.path.join(self.work, "sf")
        gen.write_parquet_tables(tables, self.sf_dir)
        self.stream_dir = os.path.join(self.work, "event-stream")
        ev = tables["events"]
        gen.write_event_stream(ev, self.stream_dir, self.STREAM_FILES)
        self.planted["stream_batches"] = self.STREAM_FILES
        self.digest = gen.digest(*(tables[k] for k in sorted(tables)), self.planted)
        self.items_per_iter = len(ANALYTICS_QUERIES) + 1
        # what every streamed run must produce: the batch aggregate
        hour = ev["ts"].dt.floor("h").astype("datetime64[ns]")
        want = ev.assign(window_start=hour).groupby(["window_start", "event_type"])["value"]
        self.want_windows = want.agg(["size", "sum"]).sort_index()
        self.windows = None

    def iterate(self, spark, i):
        from auraverse_etl_pipeline_spark.plans.registry import all_queries
        from auraverse_etl_pipeline_spark.streaming.ops import windowed_event_counts
        from auraverse_etl_pipeline_spark.streaming.runner import run_stream_to_memory
        from auraverse_etl_pipeline_spark.streaming.sources import stream_events

        qs = all_queries()
        order = np.random.default_rng([self.seed, 21, i]).permutation(len(ANALYTICS_QUERIES))
        for q in order:
            name = ANALYTICS_QUERIES[q]
            with self.tracer.span(f"plans.{name}") as sp:
                df = qs[name].fn(spark, self.sf_dir)
                self.tracer.mark(sp, "built")
                if self.tracer.enabled:
                    sp["attrs"]["catalyst_ms"] = phase_ms(df)
                df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        with self.tracer.span("streaming.run_stream_to_memory"):
            events = stream_events(spark, self.stream_dir, max_files_per_trigger=1)
            self.windows = run_stream_to_memory(windowed_event_counts(events)).toPandas()
        return len(order) + 1, 0

    def after_iteration(self, spark):
        """The streamed window counts equal the batch aggregate of the
        generated events (untimed)."""
        if self.windows is None:
            return 0, 0, []
        got = self.windows.set_index(["window_start", "event_type"]).sort_index()
        want = self.want_windows
        self.windows = None
        ok = (
            got.index.equals(want.index)
            and (got["n_events"].to_numpy() == want["size"].to_numpy()).all()
            and np.allclose(got["sum_value"].astype(float), want["sum"], rtol=0, atol=1e-6)
        )
        return 1, int(not ok), [] if ok else [f"analytics stream: {len(got)} windows, want {len(want)}"]

    def check_once(self, spark):
        import duckdb

        from auraverse_etl_pipeline_spark.plans.registry import all_queries

        qs = all_queries()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                view = t.split(".")[0]
                con.execute(
                    f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}')"
                )
            notes, failed = [], 0
            for name in ANALYTICS_QUERIES:
                got = qs[name].fn(spark, self.sf_dir).toPandas()
                want = con.execute(qs[name].oracle).df()
                if len(got) == 0 or _canonical_hash(got) != _canonical_hash(want[list(got.columns)]):
                    failed += 1
                    notes.append(f"analytics check {name}: oracle hash mismatch ({len(got)} rows)")
        finally:
            con.close()
        return len(ANALYTICS_QUERIES), failed, notes


# ---------------------------------------------------------------------------


class Curation(Workload):
    """``crawl_to_corpus_funnel`` over a generated crawl with planted
    exact copies, near copies and blocked URIs."""

    name = "curation"

    def generate(self):
        n_base = 80 if self.tiny else gen.CURATION_BASE
        docs, self.planted = gen.curation_docs(self.root, self.seed, n_base)
        gen.write_parquet_tables({"docs": docs}, self.work)
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.digest = gen.digest(docs, self.planted)
        self.items_per_iter = len(docs)

    def iterate(self, spark, i):
        from auraverse_etl_pipeline_spark.operators.e2e import crawl_to_corpus_funnel

        docs = spark.read.parquet(self.docs_path)
        ref = gen.trusted_slice(docs, self.planted["base"])
        with self.tracer.span("operators.crawl_to_corpus_funnel") as sp:
            out = crawl_to_corpus_funnel(
                docs, ref, blocked_domains=gen.BLOCKED_DOMAINS, uri_col="uri"
            )
            self.tracer.mark(sp, "built")
            rows = out.collect()
        spark.catalog.clearCache()
        self.record["funnel"] = {
            r.stage: {"in": r.docs_in, "out": r.docs_out, "dropped": r.dropped}
            for r in sorted(rows, key=lambda r: r.stage_id)
        }
        if self._funnel_ok(rows):
            return 1, 0
        self.notes.append(f"curation funnel check failed: {[tuple(r) for r in rows]}")
        return 1, 1

    def _funnel_ok(self, rows) -> bool:
        """Every stage row balances and chains into the next; the
        planted exact copies all drop at exact_dedup and the planted
        blocked URIs at domain_blocklist."""
        by = {r.stage: r for r in rows}
        chain = sorted(rows, key=lambda r: r.stage_id)
        ok = all(r.docs_in == r.docs_out + r.dropped for r in rows)
        ok &= chain[0].docs_in == self.items_per_iter
        ok &= all(a.docs_out == b.docs_in for a, b in zip(chain, chain[1:]))
        ok &= by["exact_dedup"].dropped == self.planted["exact_copies"]
        ok &= by["domain_blocklist"].dropped == self.planted["blocked"]
        return bool(ok)


# ---------------------------------------------------------------------------


class Documents(Workload):
    """The paper's document path, both halves in every iteration: the
    ingest surface over messy documents (:class:`Ingest`), then the
    crawl-to-corpus funnel over a crawl with planted copies and
    blocked URIs (:class:`Curation`). Each half has its own inputs,
    spans and output checks."""

    name = "documents"
    min_timed = 1

    def __init__(self, root, work, seed, tiny, tracer):
        super().__init__(root, work, seed, tiny, tracer)
        self.parts = (
            Ingest(root, os.path.join(work, "ingest"), seed, tiny, tracer),
            Curation(root, os.path.join(work, "curation"), seed, tiny, tracer),
        )
        for p in self.parts:  # one record, one set of notes and metrics
            p.record, p.notes, p.extra = self.record, self.notes, self.extra

    def generate(self):
        for p in self.parts:
            p.generate()
        self.planted = {p.name: p.planted for p in self.parts}
        self.digest = gen.digest(*(p.digest for p in self.parts))
        self.items_per_iter = sum(p.items_per_iter for p in self.parts)

    def iterate(self, spark, i):
        attempted = failed = 0
        for p in self.parts:
            t0 = time.perf_counter()
            a, f = p.iterate(spark, i)
            self.record.setdefault("part_s", {}).setdefault(p.name, []).append(time.perf_counter() - t0)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def check_once(self, spark):
        attempted, failed, notes = 0, 0, []
        for p in self.parts:
            a, f, n = p.check_once(spark)
            attempted, failed, notes = attempted + a, failed + f, notes + n
        return attempted, failed, notes

    def finish(self, layer):
        for p in self.parts:
            p.finish(layer)


WORKLOADS = {w.name: w for w in (Documents, Analytics)}
