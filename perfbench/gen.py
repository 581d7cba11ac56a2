"""Seeded generator for the benchmark's input tables.

One function, :func:`generate`, writes every table the registry's loaders
and oracle SQL name (``sources.catalog.TABLES``) as one parquet file each,
with the schemas of the repo's fixture tables (``FIXTURES.md``).  Only
``documents`` is drawn from the seed; its shape is what the workloads vary:

* ``vocab`` — vocabulary size of a Zipf(:data:`ZIPF`) word draw, the
  word-count shuffle's key count and skew; 0 keeps the fixture's 30-word
  vocabulary, drawn uniformly;
* ``source_zipf`` — Zipf exponent of the source draw (partition skew of
  the per-source word counts); 0 gives the fixture's round-robin sources;
* ``dup_rate`` — share of documents that are near-duplicates (one or two
  token edits) of an earlier document, which the ingest screen finds; the
  count is exact, so every seed carries the same amount of duplicate work.

``region`` and ``nation`` are the fixture's; the other tables are read by
no workload and get a few deterministic rows, so that the oracle
connection's views bind.  The same seed and shape give byte-identical
tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word-frequency exponent of natural text: Zipf's law, whose fitted
#: exponent is close to 1 across corpora (Piantadosi, "Zipf's word
#: frequency law in natural language", Psychon. Bull. Rev. 21, 2014).
ZIPF = 1.0
#: Words per document, as in the fixture corpus (10 to 99).
MIN_WORDS, MAX_WORDS = 10, 99
N_SOURCES = 20

#: The fixture vocabulary: the word-count family's default corpus.
BASE_WORDS = (
    "a the data spark query table join filter group agg sort merge hash "
    "scan stream batch window key value row column vector line order "
    "customer part small big fast slow"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]

_F, _I32, _I64, _S = pa.float64(), pa.int32(), pa.int64(), pa.string()
_MS = pa.timestamp("ms")

#: Fixture schemas of the tables no workload reads.
UNREAD_SCHEMAS = {
    "customer": pa.schema(
        [("c_custkey", _I64), ("c_name", _S), ("c_nationkey", _I32),
         ("c_acctbal", _F), ("c_mktsegment", _S)]
    ),
    "supplier": pa.schema(
        [("s_suppkey", _I64), ("s_name", _S), ("s_nationkey", _I32), ("s_acctbal", _F)]
    ),
    "part": pa.schema(
        [("p_partkey", _I64), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
         ("p_size", _I32), ("p_retailprice", _F)]
    ),
    "orders": pa.schema(
        [("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _S),
         ("o_totalprice", _F), ("o_orderdate", _MS), ("o_orderpriority", _S)]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
         ("l_linenumber", _I32), ("l_quantity", _F), ("l_extendedprice", _F),
         ("l_discount", _F), ("l_tax", _F), ("l_returnflag", _S),
         ("l_linestatus", _S), ("l_shipdate", _MS)]
    ),
    "events": pa.schema(
        [("event_id", _I64), ("ts", pa.timestamp("ns")), ("user_id", _I64),
         ("event_type", _S), ("value", _F), ("props", _S)]
    ),
    "embeddings": pa.schema(
        [("vec_id", _I64), ("embedding", pa.list_(pa.float32())), ("label", _I32)]
    ),
}
UNREAD_ROWS = 3


@dataclass(frozen=True)
class DocShape:
    """Shape of the documents table (see the module docstring)."""

    n_docs: int
    vocab: int = 0
    source_zipf: float = 0.0
    dup_rate: float = 0.0


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _vocabulary(shape: DocShape) -> np.ndarray:
    extra = [f"w{i:05d}" for i in range(shape.vocab - len(BASE_WORDS))]
    return np.array(BASE_WORDS + extra)


def documents(rng: np.random.Generator, shape: DocShape) -> pa.Table:
    n = shape.n_docs
    vocab = _vocabulary(shape)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    if shape.vocab:
        word_p = _zipf_p(len(vocab), ZIPF)
        words = vocab[rng.choice(len(vocab), int(lengths.sum()), p=word_p)]
    else:
        words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    # near-duplicates, exactly round(n * dup_rate) of them: copy an earlier
    # document and edit one or two tokens
    n_dups = min(n - 1, round(n * shape.dup_rate))
    for i in np.sort(rng.choice(np.arange(1, n), n_dups, replace=False)):
        toks = texts[int(rng.integers(0, i))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = str(
                vocab[int(rng.integers(0, len(vocab)))]
            )
        texts[i] = " ".join(toks + ["dup"])
    if shape.source_zipf > 0:
        src = rng.choice(N_SOURCES, n, p=_zipf_p(N_SOURCES, shape.source_zipf))
    else:
        src = np.arange(n) % N_SOURCES
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in src]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _filler(schema: pa.Schema, n: int) -> pa.Table:
    """``n`` deterministic rows of ``schema``."""
    cols = []
    for f in schema:
        t = f.type
        if pa.types.is_integer(t):
            vals = list(range(n))
        elif pa.types.is_floating(t):
            vals = [i + 0.5 for i in range(n)]
        elif pa.types.is_timestamp(t):
            vals = [datetime(2024, 1, 1) + timedelta(days=i) for i in range(n)]
        elif pa.types.is_list(t):
            vals = [[float(i), 1.0] for i in range(n)]
        else:
            vals = [f"{f.name}{i}" for i in range(n)]
        cols.append(pa.array(vals, t))
    return pa.Table.from_arrays(cols, schema=schema)


def _tables(rng: np.random.Generator, shape: DocShape) -> dict:
    t: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "documents": documents(rng, shape),
    }
    for name, schema in UNREAD_SCHEMAS.items():
        t[name] = _filler(schema, UNREAD_ROWS)
    return t


def generate(out_dir: str, seed: int, shape: DocShape) -> dict:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, table in _tables(rng, shape).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
