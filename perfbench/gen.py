"""Seeded input generator for the sync-lifecycle benchmark.

Writes the ten base tables the engine registers (`views.BASE_TABLES`) as one
parquet file each, in the layout and schema of the TPC-H-ish testdata
(`lineitem.parquet`, `documents.parquet`, ...). Every value is drawn from a
`numpy` generator seeded by `--seed`, so the same seed gives byte-identical
inputs and a new seed gives new inputs of the same shape and size.

Each workload scales only the tables it reads; the rest are kept tiny so that
view registration (which scans every base table) stays cheap:

  sync_lifecycle   lineitem  -> inventory_src (one source object per row)
                             and inventory_dst for the diff,
                   part + supplier -> etag_check_input (verification_join)
  corpus_curation  documents, with injected exact and near duplicates

Usage: python3 perfbench/gen.py --workload sync_lifecycle --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    lineitem: int = 2_000
    part: int = 500
    supplier: int = 100
    documents: int = 200
    events: int = 1_000
    customer: int = 300
    embeddings: int = 64


WORKLOAD_SIZES = {
    "sync_lifecycle": Sizes(lineitem=30_000, part=10_000, supplier=1_000),
    "corpus_curation": Sizes(documents=500),
}

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400 * 1_000_000

# Vocabulary of the testdata documents; language markers from
# operators.text._LANG_MARKERS are mixed in per language so language ID has
# signal, and a few docs carry none so the 'und' branch is exercised.
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch line sort "
    "window spark order data column join small customer query big filter "
    "stream group vector"
).split()
_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ist"],
    "es": ["el", "que", "de", "la", "los"],
    "fr": ["le", "et", "les", "des", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}
_LANGS = list(_MARKERS)
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(out: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _days(rng: np.random.Generator, n: int, lo_days: int, span_days: int) -> np.ndarray:
    d = rng.integers(lo_days, lo_days + span_days, n)
    return _EPOCH_1995 + d.astype("timedelta64[D]")


def _lineitem(rng: np.random.Generator, n: int, n_part: int, n_supp: int) -> pa.Table:
    """Orders of 1..7 lines with sequential line numbers, so the composite
    object key (orderkey, linenumber, partkey, suppkey) is unique."""
    lines_per_order = rng.integers(1, 8, n)  # over-draw, then cut at n rows
    orderkey = np.repeat(np.arange(n, dtype=np.int64), lines_per_order)[:n]
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = (np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": pa.array(_days(rng, n, 0, 2500).astype("datetime64[us]")),
        }
    )


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    adj = np.array(["cold", "small", "large", "red", "shiny", "matte"])
    noun = np.array(["widget", "bolt", "gear", "panel", "valve"])
    names = np.char.add(np.char.add(rng.choice(adj, n), " "), rng.choice(noun, n))
    return pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": names.astype(object),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)).astype(object),
            "p_type": rng.choice(np.array(["ECONOMY", "PROMO", "STANDARD", "LARGE"]), n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
        }
    )


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, n), 2),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n), 2),
            "c_mktsegment": rng.choice(seg, n),
        }
    )


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(1000.0, 400_000.0, n), 2),
            "o_orderdate": pa.array(_days(rng, n, 0, 2500).astype("datetime64[us]")),
            "o_orderpriority": rng.choice(prio, n),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 31 * _US_PER_DAY, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, 200, n, dtype=np.int64),
            "event_type": rng.choice(kinds, n),
            "value": np.round(rng.uniform(0.0, 500.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 8, n).astype(np.int32)
    centers = rng.normal(size=(8, dim))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word-bag documents with ~5% exact copies and ~12% near copies
    (a few words replaced) of earlier original documents, plus short and
    punctuation-heavy docs for the quality gate."""
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only, so every
    # near-dup cluster is a star of diameter <= 2 and the connected-components
    # fixpoint runs the same few rounds on every seed
    langs = rng.choice(np.array(_LANGS), n, p=_LANG_P)
    kind = rng.random(n)
    for i in range(n):
        lang = str(langs[i])
        if originals and kind[i] < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            continue
        if originals and kind[i] < 0.17:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
            continue
        originals.append(i)
        n_tok = int(rng.integers(4, 9)) if kind[i] > 0.97 else int(rng.integers(12, 90))
        vocab = _WORDS + (_MARKERS[lang] * 2 if kind[i] < 0.95 else [])
        toks = list(rng.choice(vocab, n_tok))
        if 0.93 < kind[i] < 0.95:
            toks = [t + "!!" for t in toks]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(out: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write all base tables under `out`; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(1, sizes.lineitem // 4)
    rows = {
        "region": _write(
            out,
            "region",
            pa.table(
                {
                    "r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            ),
        ),
        "nation": _write(
            out,
            "nation",
            pa.table(
                {
                    "n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32),
                }
            ),
        ),
        "customer": _write(out, "customer", _customer(rng, sizes.customer)),
        "supplier": _write(out, "supplier", _supplier(rng, sizes.supplier)),
        "part": _write(out, "part", _part(rng, sizes.part)),
        "orders": _write(out, "orders", _orders(rng, n_orders, sizes.customer)),
        "lineitem": _write(
            out, "lineitem", _lineitem(rng, sizes.lineitem, sizes.part, sizes.supplier)
        ),
        "events": _write(out, "events", _events(rng, sizes.events)),
        "documents": _write(out, "documents", _documents(rng, sizes.documents)),
        "embeddings": _write(out, "embeddings", _embeddings(rng, sizes.embeddings)),
    }
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOAD_SIZES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.out, args.seed, WORKLOAD_SIZES[args.workload])))


if __name__ == "__main__":
    main()
