"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files. The shapes follow the engine's test data
(an ``events`` stream joined to ``documents`` yields the transcript
table through ``TRANSCRIPTS_SQL``; ``lineitem``/``orders``/
``embeddings`` supply the integer, double, date, flag and nested
columns the codec workload needs).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = ("the a of and to in is for on with data table column scan "
          "merge join sort hash key value row batch stream spark query "
          "filter window order part line customer vector fast slow big "
          "small group agg segment encode decode prune bloom manifest "
          "dictionary run delta frame symbol page cache").split()
_LANGS = ("en", "es", "de", "fr", "zh")
_EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
_EVENT_P = (0.35, 0.35, 0.1, 0.05, 0.15)
_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EMB_DIM = 64


@dataclass(frozen=True)
class Sizes:
    users: int
    events: int
    docs: int
    lineitem: int = 0
    orders: int = 0
    embeddings: int = 0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.15:
            # near-duplicate of an earlier document: dedup operators
            # and FSST symbol tables both see shared substrings
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=2):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        n_words = int(np.clip(rng.lognormal(4.2, 0.6), 4, 400))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n).tolist(), pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    # strictly increasing microsecond timestamps: every ts is unique,
    # so top-k by ts has one right answer
    gaps = rng.integers(1, 120_000_000, n)
    ts = _BASE_US + np.cumsum(gaps)
    # zipf-ish conversation sizes: a few users hold many turns
    w = 1.0 / np.arange(1, users + 1) ** 0.9
    user = rng.choice(users, size=n, p=w / w.sum()).astype(np.int64)
    etype = rng.choice(len(_EVENT_TYPES), size=n, p=_EVENT_P)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(np.array(_EVENT_TYPES)[etype].tolist(),
                               pa.string()),
        "value": pa.array(np.round(rng.random(n) * 500, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(8035, 10591, n)  # 1992-01-01 .. 1998-12-31
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64) * 4),
        "o_custkey": pa.array(rng.integers(1, max(2, n // 10), n)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(),
                                  pa.string()),
        "o_totalprice": pa.array(np.round(rng.random(n) * 400_000 + 900, 2)),
        "o_orderdate": pa.array(days.astype(np.int32), pa.date32()),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"], n).tolist(), pa.string()),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(8035, 10591, n)
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, max(2, n // 4), n))
                               * 4),
        "l_partkey": pa.array(rng.integers(1, 20_000, n)),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (rng.random(n) * 2000
                                                    + 900), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n).tolist(),
                                 pa.string()),
        "l_shipdate": pa.array(days.astype(np.int32), pa.date32()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 0.2, (10, EMB_DIM)).astype(np.float32)
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[label] + rng.normal(0, 0.05, (n, EMB_DIM)).astype(
        np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label),
    })


def make_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All tables for one workload run, drawn from one seeded stream."""
    rng = np.random.default_rng(seed)
    out = {
        "documents": _documents(rng, sizes.docs),
        "events": _events(rng, sizes.events, sizes.users),
    }
    if sizes.lineitem:
        out["lineitem"] = _lineitem(rng, sizes.lineitem)
    if sizes.orders:
        out["orders"] = _orders(rng, sizes.orders)
    if sizes.embeddings:
        out["embeddings"] = _embeddings(rng, sizes.embeddings)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
