"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed`` and its size arguments:
the same seed gives byte-identical inputs, a different seed gives
different content. Input *properties* the engine's cost depends on
(document size distribution, duplicate shares, drift) are drawn at
fixed stratified quantiles and only their placement and content vary
with the seed, so two seeds exercise the same amount of work.

Generation is never timed. Each generator returns the inputs plus a
``planted`` dict of the counts the output checks rely on; ``digest``
hashes both for the run record.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd

FIXTURES = ("tests/fixtures/messy_doc_1.txt", "tests/fixtures/messy_doc_2.txt")


def digest(*parts) -> str:
    """sha256 over a canonical rendering of arrays, frames and dicts."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
            h.update(",".join(map(str, p.columns)).encode())
        elif isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()


def _stratified(rng: np.random.Generator, n: int) -> np.ndarray:
    """n points in (0, 1), one per equal-width stratum, shuffled: the
    empirical distribution is the same for every seed."""
    u = (np.arange(n) + 0.5) / n
    rng.shuffle(u)
    return u


# ---------------------------------------------------------------------------
# ingest: messy multi-format documents
# ---------------------------------------------------------------------------

def fixture_sections(root: str) -> list[str]:
    """The blank-line-separated sections of the two messy fixtures."""
    out: list[str] = []
    for rel in FIXTURES:
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            text = fh.read()
        out.extend(s.strip("\n") for s in re.split(r"\n\s*\n", text) if s.strip())
    return out


def _vary(section: str, rng: np.random.Generator) -> str:
    """Re-key a section so documents differ in content, not in shape:
    every digit run is replaced by a seeded number of the same width."""
    def sub(m: re.Match) -> str:
        w = len(m.group(0))
        return str(int(rng.integers(10 ** (w - 1) if w > 1 else 0, 10 ** w)))

    return re.sub(r"\d+", sub, section)


def ingest_docs(root: str, seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """``n_docs`` documents recombined from fixture sections.

    Sizes are heavy-tailed: a Pareto body from 1 KB, capped at 150 KB
    (under the detector's 200k brace window), so the largest documents
    make straggler tasks."""
    rng = np.random.default_rng([seed, 1])
    sections = fixture_sections(root)
    u = _stratified(rng, n_docs)
    sizes = np.minimum(1024 / np.power(1.0 - u, 1 / 1.1), 150_000).astype(int)
    texts = []
    for target in sizes:
        # cycle through a fresh permutation of all sections, so a
        # document's format mix (and so its detector cost) depends on
        # its size, not on the seed
        parts: list[str] = []
        total = 0
        while total < target:
            for k in rng.permutation(len(sections)):
                s = _vary(sections[k], rng)
                parts.append(s)
                total += len(s) + 3
                if total >= target:
                    break
        texts.append("\n\n\n".join(parts))
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    planted = {
        "docs": n_docs,
        "bytes": int(sum(len(t.encode()) for t in texts)),
        "max_doc_bytes": int(max(len(t) for t in texts)),
        "docs_over_100kb": int(sum(len(t) > 100_000 for t in texts)),
    }
    return docs, planted


def write_jsonl_shards(docs: pd.DataFrame, path: str, shards: int) -> None:
    """Deal documents to shards round-robin in size order, so every
    shard (one input split each) gets the same size mix whatever the
    seed: the straggler cost stays, its seed-to-seed variance goes."""
    os.makedirs(path, exist_ok=True)
    by_size = docs.iloc[np.argsort(-docs["text"].str.len().to_numpy(), kind="stable")]
    for i in range(shards):
        part = by_size.iloc[i::shards]
        with open(os.path.join(path, f"part-{i:05d}.json"), "w", encoding="utf-8") as fh:
            for doc_id, text in zip(part["doc_id"], part["text"]):
                fh.write(json.dumps({"doc_id": int(doc_id), "text": text}) + "\n")


# ---------------------------------------------------------------------------
# analytics: the TPC-H-ish star schema of TESTDATA.md
# ---------------------------------------------------------------------------

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
_NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]


def _dates(rng: np.random.Generator, n: int, days: int, step_s: int = 1) -> np.ndarray:
    secs = rng.integers(0, days * 86_400 // step_s, n) * step_s
    return _EPOCH_1992 + secs.astype("timedelta64[s]").astype("timedelta64[us]")


def star_tables(seed: int, orders: int) -> tuple[dict[str, pd.DataFrame], dict]:
    """region, nation, customer, supplier, orders, lineitem and events
    with the column names and types TESTDATA.md describes. Sizes
    scale with ``orders`` in TPC-H ratios (1.5 M orders = SF 1)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(orders // 10, 10)
    n_supp = max(orders // 150, 5)
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": _NATIONS,
            "n_regionkey": np.array(_NATION_REGION, dtype=np.int32),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    okeys = np.arange(1, orders + 1, dtype=np.int64) * 4 - rng.integers(0, 4, orders)
    odate = _dates(rng, orders, 2405, 86_400)
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(orders), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li) / 10, 2)
    ship = odate[li_order] + (rng.integers(1, 122, n_li) * _DAY_US).astype("timedelta64[us]")
    cutoff = np.datetime64("1995-06-17", "us")
    returned = np.where(rng.random(n_li) < 0.5, "R", "A")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okeys[li_order],
            "l_partkey": rng.integers(1, orders // 7 + 2, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.where(ship <= cutoff, returned, "N"),
            "l_linestatus": np.where(ship <= cutoff, "F", "O"),
            "l_shipdate": ship,
        }
    )
    totals = pd.Series(price).groupby(li_order).sum().to_numpy()
    orders_df = pd.DataFrame(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, n_cust + 1, orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(totals, 2),
            "o_orderdate": odate,
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, orders)],
        }
    )
    n_ev = orders * 2 // 3
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(_dates(rng, n_ev, 60)),
            "user_id": rng.integers(1, n_cust + 1, n_ev).astype(np.int64),
            "event_type": np.array(["view", "click", "cart", "purchase"])[
                rng.choice(4, n_ev, p=[0.6, 0.25, 0.1, 0.05])
            ],
            "value": np.round(rng.exponential(20.0, n_ev), 2),
            "props": [f'{{"k":{int(k)}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders_df,
        "lineitem": lineitem,
        "events": events,
    }
    planted = {name: len(df) for name, df in tables.items()}
    return tables, planted


def write_parquet_tables(tables: dict[str, pd.DataFrame], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(path, f"{name}.parquet"),
        )


def write_event_stream(events: pd.DataFrame, path: str, files: int) -> None:
    """``events`` (sorted by ``ts``) as ``files`` parquet files in time
    order, mtimes pinned in that order: the file stream source takes
    pending files oldest first, so each file is one micro-batch and no
    event arrives behind the watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    t0 = 1_700_000_000
    for b, part in enumerate(np.array_split(np.arange(len(events)), files)):
        f = os.path.join(path, f"part-{b:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(events.iloc[part], preserve_index=False), f)
        os.utime(f, (t0 + 10 * b, t0 + 10 * b))


# ---------------------------------------------------------------------------
# curation: a crawl with planted exact copies, near copies, blocked URIs
# ---------------------------------------------------------------------------

#: the words of the testdata ``documents`` table (TESTDATA.md): each of
#: its rows is 10 to 100 of them drawn uniformly, 44 to 577 characters;
#: 5% of its rows repeat an earlier row with one word, ``dup``, appended
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SOURCES = [f"src{i}" for i in range(20)]
_TLDS = [".net", ".co.uk", ".com.au", ".org"]
BLOCKED_DOMAINS = ["blocked-mirror.net", "spam-farm.org", "never-crawled.example"]


def trusted_slice(docs, base: int):
    """The funnel's reference slice of a crawl DataFrame: the even-id
    original documents that are plain prose."""
    import pyspark.sql.functions as F

    return docs.filter(
        (F.col("doc_id") < base) & (F.col("doc_id") % 2 == 0) & ~F.col("text").contains("\n")
    )


#: original documents in the curation crawl the benchmark runs
CURATION_BASE = 500


def curation_docs(root: str, seed: int, n_base: int) -> tuple[pd.DataFrame, dict]:
    """A crawl of ``n_base`` documents shaped like the testdata
    ``documents`` table, then about 10% exact copies, about 10% near
    copies (three word edits) and about 5% of URIs in
    :data:`BLOCKED_DOMAINS`. Copies take ids above every original, so
    the keep-first dedup rules always keep the original.

    The base rows follow the measured table: prose of 10 to 100
    uniform words of :data:`DOC_VOCAB`, and 5% of rows an earlier row
    plus ``dup``. One row in twenty also carries a fixture section
    (JSON, CSV, HTML, key-value and the rest of the messy fixtures'
    fragments) between two prose paragraphs, so the funnel's detector
    has fragments to find; the table itself has none, and
    ``probe_curation.py`` compares the two stage by stage."""
    rng = np.random.default_rng([seed, 3])
    sections = fixture_sections(root)
    words = np.array(DOC_VOCAB)
    n_dup = n_base // 20
    n_orig = n_base - n_dup
    lens = (10 + 91 * _stratified(rng, n_orig)).astype(int)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    pick = rng.permutation(n_orig)
    for i in pick[:n_dup]:
        texts.append(texts[i] + " dup")
    with_frag = pick[n_dup:n_dup + n_base // 20]
    for k, i in enumerate(with_frag):
        prose = texts[i].split()
        cut = len(prose) // 2
        sec = _vary(sections[k % len(sections)], rng)
        texts[i] = " ".join(prose[:cut]) + "\n\n" + sec + "\n\n" + " ".join(prose[cut:])
    n_exact = n_base // 10
    n_near = n_base // 10
    n_blocked = (n_base + n_exact + n_near) // 20
    order = rng.permutation(n_base)
    exact_src = order[:n_exact]
    near_src = order[n_exact:n_exact + n_near]
    blocked = order[n_exact + n_near:n_exact + n_near + n_blocked]
    ids = list(range(n_base))
    for i in exact_src:
        ids.append(len(texts))
        texts.append(texts[i])
    index = {w: k for k, w in enumerate(DOC_VOCAB)}
    for i in near_src:
        toks = texts[i].split(" ")
        prose = [j for j, t in enumerate(toks) if t in index]
        for j in rng.choice(prose, 3, replace=False):
            # a different word, so a near copy is never an exact one
            toks[j] = DOC_VOCAB[(index[toks[j]] + int(rng.integers(1, len(DOC_VOCAB)))) % len(DOC_VOCAB)]
        ids.append(len(texts))
        texts.append(" ".join(toks))
    n = len(texts)
    src = rng.integers(0, len(_SOURCES), n)
    tld = rng.integers(0, len(_TLDS), n)
    uris = [f"https://www.{_SOURCES[s]}{_TLDS[t]}/doc/{i}" for i, s, t in zip(ids, src, tld)]
    for i in blocked:
        uris[i] = f"http://{BLOCKED_DOMAINS[int(rng.integers(len(BLOCKED_DOMAINS)))]}/doc/{i}"
    docs = pd.DataFrame(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "uri": uris,
            "lang": "en",
        }
    )
    planted = {
        "docs": n,
        "base": n_base,
        "dup_suffixed": n_dup,
        "with_fragments": len(with_frag),
        "exact_copies": n_exact,
        "near_copies": n_near,
        "blocked": int(n_blocked),
    }
    return docs, planted
