"""Seeded generators for the parquet inputs of ``adhoc_olap`` and
``corpus_curation``.

``ensure_tpch`` writes the TPC-H-shaped star schema the registry's OLAP
queries read (region, nation, customer, supplier, part, orders, lineitem),
with the schemas, value domains and key relationships of the repo's sf
testdata (TESTDATA.md): dense keys, foreign keys drawn uniformly from the
dimension ranges, midnight timestamps, two-decimal money.

``ensure_corpus`` writes ``documents.parquet`` on a realistic-size
vocabulary, the shape of the legacy ``bench._realvocab_docs`` derivation:
token j of doc d is ``"t" + md5("<seed>:<d // 2>:<j>")[:12]``, so the docs
of a two-doc group (2g, 2g+1) share their first min(n_2g, n_2g+1) tokens
and every other pair of docs is disjoint.  The true near-duplicate answer
is therefore known without running any engine: a pair is a true pair iff
both docs are in one group, with Jaccard = min / max of their word counts.
The seed salts the token hash, so each seed is a different corpus.

Both are cached on disk by (seed, size); a directory holding
``manifest.json`` is complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
SF_ROWS = {  # rows per table at sf=1 (the repo testdata's proportions)
    "lineitem": 6_000_000,
    "orders": 1_500_000,
    "part": 200_000,
    "supplier": 10_000,
    "customer": 150_000,
}
TPCH_SF = {"full": 0.1, "tiny": 0.001}
CORPUS_DOCS = {"full": 2_000, "tiny": 120}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "small", "dark", "quick", "soft", "cold"]
NOUN = ["ring", "bolt", "disk", "wire", "gear", "tube", "clip", "rod"]
TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
SEGS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
SOURCES = ["web", "books", "code", "news", "forum"]


def _ts_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype("int64"))


def _cached(root: str, build) -> tuple[str, dict]:
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    manifest = build(root)
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return root, manifest


def _write(root: str, name: str, table: pa.Table) -> None:
    # several row groups per fact table, so a scan splits across cores the
    # way a multi-file production table does
    pq.write_table(table, os.path.join(root, f"{name}.parquet"), row_group_size=100_000)


def _build_tpch(root: str, seed: int, sf: float) -> dict:
    rng = np.random.default_rng([seed, 0x7C0])
    n = {t: max(10, int(rows * sf)) for t, rows in SF_ROWS.items()}
    _write(root, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(root, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    np_, ns, nc, no, nl = n["part"], n["supplier"], n["customer"], n["orders"], n["lineitem"]
    _write(root, "part", pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": np.char.add(
            np.char.add(np.array(ADJ)[rng.integers(0, 8, np_)], " "),
            np.array(NOUN)[rng.integers(0, 8, np_)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.random(np_) * 100.0, 2),
    }))
    _write(root, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.random(ns) * 10_000 - 1_000, 2),
    }))
    _write(root, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.random(nc) * 10_000 - 1_000, 2),
        "c_mktsegment": np.array(SEGS)[rng.integers(0, 5, nc)],
    }))
    o_lo = _ts_us("1995-01-01")
    o_days = (_ts_us("2001-08-01") - o_lo) // DAY_US
    _write(root, "orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, no, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(1_000 + rng.random(no) * 499_000, 2),
        "o_orderdate": pa.array(o_lo + rng.integers(0, o_days + 1, no) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIO)[rng.integers(0, 5, no)],
    }))
    l_lo = _ts_us("1995-01-02")
    l_days = (_ts_us("2001-11-04") - l_lo) // DAY_US
    _write(root, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(900 + rng.random(nl) * 104_100, 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(l_lo + rng.integers(0, l_days + 1, nl) * DAY_US,
                               pa.timestamp("us")),
    }))
    return {"seed": seed, "sf": sf, "rows": n}


def ensure_tpch(work: str, seed: int, size: str = "full") -> tuple[str, dict]:
    sf = TPCH_SF[size]
    root = os.path.join(work, "inputs", f"tpch-{size}-{seed}")
    return _cached(root, lambda r: _build_tpch(r, seed, sf))


def corpus_word_counts(seed: int, n_docs: int) -> np.ndarray:
    """Words per doc.  Most groups are near-duplicates (the second doc is a
    few words longer or shorter); the rest draw both lengths freely, so
    some true pairs fall below the Jaccard threshold."""
    rng = np.random.default_rng([seed, 0xD0C])
    counts = rng.integers(10, 101, n_docs)
    near = rng.random(n_docs // 2) < 0.6
    delta = rng.integers(-4, 5, n_docs // 2)
    for g in np.flatnonzero(near):
        counts[2 * g + 1] = int(np.clip(counts[2 * g] + delta[g], 10, 100))
    return counts


def _build_corpus(root: str, seed: int, n_docs: int) -> dict:
    rng = np.random.default_rng([seed, 0xC0C])
    counts = corpus_word_counts(seed, n_docs)
    texts = []
    for d in range(n_docs):
        g = d // 2
        texts.append(" ".join(
            "t" + hashlib.md5(f"{seed}:{g}:{j}".encode()).hexdigest()[:12]
            for j in range(1, int(counts[d]) + 1)
        ))
    _write(root, "documents", pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.array(SOURCES)[rng.integers(0, 5, n_docs)],
    }))
    return {"seed": seed, "docs": n_docs, "words": int(counts.sum())}


def ensure_corpus(work: str, seed: int, size: str = "full") -> tuple[str, dict]:
    n_docs = CORPUS_DOCS[size]
    root = os.path.join(work, "inputs", f"corpus-{size}-{seed}")
    return _cached(root, lambda r: _build_corpus(r, seed, n_docs))
