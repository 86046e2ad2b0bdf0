"""Seeded inputs for the benchmark: the engine's ten tables and a file lake.

Everything here is a pure function of the seed, so two runs with the same
seed see byte-identical tables and the same lake layout, contents and
mtimes. The program under test only ever receives the generated files.

Tables mirror the schemas and value domains of the engine's harness data
(TPC-H-style star schema, an event stream, a document corpus with ~5% near
duplicates and 64-d unit embeddings). The lake is the reference's own
input: JSON quote files under ``YYYY/MM/DD`` directories plus a ``;``
manifest naming some files that exist and some that do not.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)

# --------------------------------------------------------------------------
# tables
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "fr", "zh", "de"]


def _ts_days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    micros = int((base - EPOCH).total_seconds()) * 1_000_000 + days.astype(
        np.int64
    ) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten harness tables at ``scale`` (0.01 ≈ 60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_line = 4 * n_ord
    n_users = max(int(15_000 * scale), 20)
    n_events = max(int(1_000_000 * scale), 500)
    n_docs = max(int(50_000 * scale), 100)
    n_vecs = max(int(50_000 * scale), 100)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_days(dt.datetime(1995, 1, 1), order_days),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts_days(
                dt.datetime(1995, 1, 1),
                order_days[l_order] + rng.integers(1, 122, n_line),
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    ev_base = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ev_base + ev_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    dups = set(rng.permutation(np.arange(11, n_docs))[: round(0.05 * n_docs)].tolist())
    lengths = rng.permutation(np.linspace(10, 99, n_docs).astype(np.int64))
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            # near duplicate of an earlier document: one word swapped and a
            # marker token appended, so shingle Jaccard stays around 0.9
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, 30))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, 30, lengths[i])))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# lake
# --------------------------------------------------------------------------

#: the content filter pipeline B applies (reference app/main.py:49-106)
PROBE_KEY = "SalesCompanyId"
PROBE_VALUE = "1001"
LAKE_YEAR = dt.datetime(2024, 1, 1)
#: pipeline B's metadata date filter: the second quarter of the lake's year
MOVE_AFTER = dt.datetime(2024, 4, 1)
MOVE_BEFORE = dt.datetime(2024, 6, 30, 23, 59, 59)


@dataclass
class Lake:
    """A generated lake plus the ground truth every pass is checked against.

    Paths in ``sizes``/``mtimes`` and the expected sets are relative to
    ``root``."""

    root: str
    manifest: str
    archive: str
    moved: str
    sizes: dict[str, int] = field(default_factory=dict)
    mtimes: dict[str, float] = field(default_factory=dict)
    expected_found: set[str] = field(default_factory=set)
    expected_not_found: int = 0
    expected_moved: set[str] = field(default_factory=set)
    date_window: set[str] = field(default_factory=set)


def _quote_doc(i: int, shape: int, company: str, size: int, pad: str) -> bytes:
    """One quote file of about ``size`` bytes. The company id sits at top
    level, in a depth-1 object or in the head of a depth-1 list — the three
    places the reference's probe looks."""
    lines = [{"sku": 1000 + i, "qty": 1 + i % 7}, {"sku": 2000 + i, "qty": 2}]
    if shape == 0:
        doc = {"QuoteId": i, PROBE_KEY: company, "lines": lines}
    elif shape == 1:
        doc = {"QuoteId": i, "header": {PROBE_KEY: company}, "lines": lines}
    else:
        doc = {"QuoteId": i, "parties": [{PROBE_KEY: company}], "lines": lines}
    head = json.dumps(doc, separators=(",", ":"))
    start = (i * 7919) % (len(pad) // 2)
    notes = pad[start : start + max(size - len(head) - 11, 0)]
    return (head[:-1] + f',"notes":"{notes}"}}').encode()


def make_lake(seed: int, work: str, n_files: int) -> Lake:
    """Write ``n_files`` quote files and a manifest under ``work``.

    95% of files are 0.2-4 KB and 5% are 0.25-2 MB, with sizes on fixed
    grids; one mtime falls in each 1/``n_files`` slice of a year; every
    other file in mtime order belongs to the probed company. Which file
    lands where is drawn from the seed, but the classes are spread evenly
    over the year, so every date window and manifest sample holds the same
    mix and the work of a pass barely depends on the seed. The manifest
    holds 1.5 × ``n_files`` rows: 90% of the files once each (found) and
    0.6 × ``n_files`` names of absent files (not found), shuffled."""
    rng = np.random.default_rng([seed, 2])
    lake = Lake(
        root=os.path.join(work, "lake"),
        manifest=os.path.join(work, "manifest.csv"),
        archive=os.path.join(work, "archive"),
        moved=os.path.join(work, "moved"),
    )
    year_s = 365 * 86_400
    base = (LAKE_YEAR - EPOCH).total_seconds()
    lo = (MOVE_AFTER - EPOCH).total_seconds()
    hi = (MOVE_BEFORE - EPOCH).total_seconds()
    # rank = position in mtime order; file i gets slice rank[i] of the year
    rank = rng.permutation(n_files)
    mtimes = np.floor(base + (rank + rng.random(n_files)) * year_s / n_files)
    carries = rank % 2 == 0
    # two big files in every 40 ranks, one carrying the probed company and
    # one not, with sizes rising over the year
    big = np.isin(rank % 40, (5, 26))
    n_big = int(big.sum())
    sizes = np.empty(n_files, dtype=np.int64)
    sizes[~big] = rng.permutation(np.linspace(200, 4_000, n_files - n_big).astype(np.int64))
    sizes[big] = np.linspace(250_000, 2_000_000, n_big).astype(np.int64)[
        np.argsort(np.argsort(rank[big]))
    ]
    shapes = rng.permutation(np.arange(n_files) % 3)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)
    pad = rng.choice(letters, 4_200_000).tobytes().decode()
    rels: list[str] = []
    for i in range(n_files):
        mtime = float(mtimes[i])
        day = EPOCH + dt.timedelta(seconds=mtime)
        rel = f"{day:%Y/%m/%d}/quote_{i:06d}.json"
        company = PROBE_VALUE if carries[i] else str(1002 + i % 8)
        body = _quote_doc(i, int(shapes[i]), company, int(sizes[i]), pad)
        path = os.path.join(lake.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(body)
        os.utime(path, (mtime, mtime))
        rels.append(rel)
        lake.sizes[rel] = len(body)
        lake.mtimes[rel] = mtime
        if lo <= mtime <= hi:
            lake.date_window.add(rel)
            if company == PROBE_VALUE:
                lake.expected_moved.add(rel)

    # every tenth rank is missing from the manifest
    found = [rels[i] for i in range(n_files) if rank[i] % 10 != 3]
    absent = [f"{2023}/12/{d:02d}/missing_{j:06d}.json" for j, d in
              enumerate(rng.integers(1, 29, int(0.6 * n_files)))]
    rows = found + absent
    order = rng.permutation(len(rows))
    with open(lake.manifest, "w") as f:
        f.write("QuoteId;unixtimestamp;filename\n")
        for k in order:
            f.write(f"{k};{int(base) + int(k)};{rows[k]}\n")
    lake.expected_found = set(found)
    lake.expected_not_found = len(absent)
    return lake


def reset_lake(lake: Lake) -> None:
    """Undo one pass: drop the archive, move every moved file back and
    re-stamp its mtime (a copy does not preserve mtime, and pipeline B's
    date filter reads it)."""
    shutil.rmtree(lake.archive, ignore_errors=True)
    if os.path.isdir(lake.moved):
        for dirpath, _, files in os.walk(lake.moved):
            for name in files:
                src = os.path.join(dirpath, name)
                rel = os.path.relpath(src, lake.moved)
                dst = os.path.join(lake.root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
        shutil.rmtree(lake.moved)
    for rel in lake.expected_moved:
        mtime = lake.mtimes[rel]
        os.utime(os.path.join(lake.root, rel), (mtime, mtime))
