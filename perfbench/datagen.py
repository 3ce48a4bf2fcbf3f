"""Seeded source tables for the benchmark.

:func:`write_tables` writes the four TPC-H-shaped parquet tables that
``plans.bench_pipeline.prepare_fixtures`` re-shapes into the pipeline's
CSV sources (lineitem, orders, customer, part); :func:`write_corpus`
writes the documents, embeddings and events the LLM-data and streaming
queries read.
Everything is drawn from ``numpy`` generators seeded by the workload
seed, so the same seed gives byte-identical tables. For the sales
tables the seed moves:

- the order keys, and with them the rows the fixture's key hash turns
  into dirt (null ids, null dates, negative prices, zero quantities);
- the calendar: the two-year order-date span ends on a seeded day, and
  the incremental watermark sits a seeded 80-100 days before that end,
  so the delta window is about three months wherever it lands.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CATEGORIES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]


@dataclasses.dataclass(frozen=True)
class Scale:
    orders: int
    lines_per_order: int  # mean; each order has 1..2*mean-1 lines
    customers: int
    parts: int


@dataclasses.dataclass(frozen=True)
class CorpusScale:
    docs: int
    vectors: int
    events: int


@dataclasses.dataclass(frozen=True)
class Calendar:
    first_day: dt.date
    last_day: dt.date
    watermark: str  # "%Y-%m-%d %H:%M:%S", the seeded incremental start

    @property
    def watermark_day(self) -> dt.date:
        return dt.date.fromisoformat(self.watermark[:10])


def calendar_for(seed: int) -> Calendar:
    rng = np.random.default_rng([seed, 1])
    last = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    first = last - dt.timedelta(days=730)
    wm_day = last - dt.timedelta(days=int(rng.integers(80, 101)))
    return Calendar(first, last, f"{wm_day.isoformat()} 00:00:00")


def write_tables(root: str, seed: int, scale: Scale) -> Calendar:
    """Write ``<root>/{lineitem,orders,customer,part}.parquet``; return
    the calendar the tables were drawn on."""
    os.makedirs(root, exist_ok=True)
    tables, cal = draw_tables(seed, scale)
    for name, cols in tables.items():
        _write(root, name, cols)
    return cal


def draw_tables(seed: int, scale: Scale) -> tuple[dict, Calendar]:
    """The four TPC-H-shaped tables as column dicts, and the calendar."""
    rng = np.random.default_rng([seed, 0])
    cal = calendar_for(seed)
    out = {}

    n_o = scale.orders
    okeys = rng.choice(n_o * 20, size=n_o, replace=False).astype(np.int64)
    span = (cal.last_day - cal.first_day).days
    day = rng.integers(0, span + 1, size=n_o)
    day[:16] = span  # the last day always has orders: the delta max is known
    odate = np.datetime64(cal.first_day.isoformat(), "us") + day.astype(
        "timedelta64[D]"
    )
    out["orders"] = {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, scale.customers, size=n_o, dtype=np.int64),
        "o_orderdate": odate,
    }

    n_lines = rng.integers(1, 2 * scale.lines_per_order, size=n_o)
    l_order = np.repeat(okeys, n_lines)
    l_line = (
        np.arange(len(l_order)) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    ).astype(np.int32) + 1
    n_l = len(l_order)
    qty = rng.integers(1, 51, size=n_l).astype(np.float64)
    unit = np.round(rng.uniform(1.0, 200.0, size=n_l), 2)
    out["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, scale.parts, size=n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, size=n_l, dtype=np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(unit * qty, 2),
    }

    ck = np.arange(scale.customers, dtype=np.int64)
    out["customer"] = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{k:09d}" for k in ck], dtype=object),
        "c_nationkey": rng.integers(0, 25, size=len(ck)).astype(np.int32),
    }

    pk = np.arange(scale.parts, dtype=np.int64)
    out["part"] = {
        "p_partkey": pk,
        "p_type": np.array(_CATEGORIES, dtype=object)[
            rng.integers(0, len(_CATEGORIES), size=len(pk))
        ],
        "p_brand": np.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, size=len(pk))],
            dtype=object,
        ),
        "p_retailprice": np.round(900.0 + pk % 1000 * 0.1, 2),
    }
    return out, cal


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


_WORDS = np.array(
    "the a data table row column key value join hash sort merge filter "
    "group agg window scan part line order customer query spark stream "
    "batch vector small big fast slow".split(), dtype=object)
_LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
EMBEDDING_DIM = 64


def write_corpus(root: str, seed: int, docs: int, vectors: int,
                 events: int) -> None:
    """Write the tables the LLM-data and streaming catalog queries
    read: ``<root>/documents.parquet`` (doc_id, text, lang, source,
    n_chars: 8-80 words drawn from a 30-word vocabulary),
    ``<root>/embeddings.parquet`` (vec_id, a unit-norm float32
    embedding of 64 dims, label) and ``<root>/events.parquet``
    (event_id, ts, user_id, event_type, value with two decimals,
    props). The queries inject their own exact and near duplicates on
    top."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    n_words = rng.integers(8, 81, size=docs)
    words = _WORDS[rng.integers(0, len(_WORDS), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = np.array([" ".join(words[e - n:e]) for n, e in zip(n_words, ends)],
                    dtype=object)
    _write(root, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": text,
        "lang": _LANGS[rng.integers(0, len(_LANGS), size=docs)],
        "source": np.array([f"src{i % 20}" for i in range(docs)],
                           dtype=object),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    v = rng.standard_normal((vectors, EMBEDDING_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(root, "embeddings", {
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=vectors).astype(np.int32),
    })
    gaps = rng.integers(1, 400_000_000, size=events)  # microseconds
    _write(root, "events", {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, max(events // 50, 1), size=events),
        "event_type": np.array(["view", "click", "cart", "error"],
                               dtype=object)[rng.integers(0, 4, size=events)],
        "value": rng.integers(1, 10_000, size=events) / 100.0,
        "props": np.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, size=events)], dtype=object),
    })
