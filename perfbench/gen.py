"""Seeded input generator for the benchmark.

Follows the recipe of ``tools/make_sf1.py`` (same schema, cardinality
model and distribution family as the repository's test data), but every draw
comes from ``numpy.random.default_rng(seed)`` so the same seed always
yields the same files, and region/nation are written from their fixed
definitions instead of being copied from an existing tree.

Two kinds of input:

- ``tree(seed, sf)``: the ten-table tree at scale factor ``sf``
  (``batch`` uses sf0.1; ``ingest`` loads an sf0.01 catalog at set-up);
- ``event_files(seed, ...)``: the ingest feed — an endless sequence of
  event batches with a share of duplicate and late (out-of-order) rows.

Generated trees are cached under ``<cache>/tree-s<seed>-sf<sf>`` and
reused by later runs with the same seed and scale.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENTS_T0 = "2024-01-01"


def _ts_day(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_us = np.datetime64(lo, "us").astype("int64")
    hi_us = np.datetime64(hi, "us").astype("int64")
    days = rng.integers(0, (hi_us - lo_us) // DAY_US + 1, n)
    return pa.array(lo_us + days * DAY_US, type=pa.timestamp("us"))


def _publish(tmp: Path, out: Path) -> Path:
    """Move a finished tree into place; a half-written tree is never
    visible under its final name."""
    if out.exists():
        shutil.rmtree(tmp, ignore_errors=True)
        return out
    os.replace(tmp, out)
    return out


def _fresh(cache: Path, name: str) -> tuple[Path, Path | None]:
    out = cache / name
    if out.exists():
        return out, None
    tmp = cache / f".{name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return out, tmp


def _documents(rng, n_doc: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.0516:
            texts.append(texts[rng.integers(0, i)])
        else:
            n_words = rng.integers(10, 101)
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, 30, n_words)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_emb: int) -> pa.Table:
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def _events(rng, ids: np.ndarray, ts_us: np.ndarray, n_users: int) -> pa.Table:
    n = ids.size
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_users), n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 999.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tree(cache: Path, seed: int, sf: float) -> Path:
    """The ten-table tree at ``sf`` (contiguous zero-based keys, counts
    linear in ``sf``; documents/embeddings floored at 500 rows)."""
    out, tmp = _fresh(cache, f"tree-s{seed}-sf{sf:g}")
    if tmp is None:
        return out
    rng = np.random.default_rng(seed)
    w = lambda name, t: pq.write_table(t, tmp / f"{name}.parquet")  # noqa: E731

    w("region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1_000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1_000, 10_000, n_supp), 2),
    }))
    pk = np.arange(n_part)
    w("part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(
            np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUN)[rng.integers(0, 8, n_part)],
        )),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }))
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts_day(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))
    mult = np.clip(rng.poisson(4.0, n_ord), 1, None)
    okey = np.repeat(np.arange(n_ord), mult)
    n_li = okey.size
    within = np.arange(n_li) - np.repeat(
        np.concatenate(([0], np.cumsum(mult)[:-1])), mult
    )
    w("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array((within % 7 + 1).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 4),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 4),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_day(rng, n_li, "1995-01-02", "2001-11-04"),
    }))
    t0 = np.datetime64(EVENTS_T0, "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    w("events", _events(rng, np.arange(n_ev), ts, n_cust // 10))
    w("documents", _documents(rng, n_doc))
    w("embeddings", _embeddings(rng, n_emb))
    return _publish(tmp, out)


def event_files(
    seed: int,
    rows_per_file: int,
    dup_share: float = 0.05,
    late_share: float = 0.05,
) -> Iterator[pa.Table]:
    """The ingest feed: event batches in drop order, without end.

    Each file advances event time by one hour. Its rows are new ids
    with timestamps inside the file's hour, plus:

    - ``late_share`` new ids whose timestamps lag up to 30 minutes
      behind the file's hour (out of order, but inside the pipeline's
      1-hour watermark, so they must be kept);
    - ``dup_share`` re-deliveries of ids from earlier files, byte-equal
      to the original row (same ts), which the sink must not repeat —
      the ones older than the watermark are dropped as late instead.

    New ids are numbered from 0 in the order files introduce them, so
    once files 0..i are in, the sink must hold exactly the ids below
    one past the largest id seen so far.
    """
    rng = np.random.default_rng(seed)
    t0 = np.datetime64(EVENTS_T0, "us").astype("int64")
    sent: pa.Table | None = None
    next_id = 0
    for i in itertools.count():
        n_dup = int(rows_per_file * dup_share) if sent is not None else 0
        n_late = int(rows_per_file * late_share) if i else 0
        n_new = rows_per_file - n_dup
        ids = np.arange(next_id, next_id + n_new)
        next_id += n_new
        hour = t0 + i * HOUR_US
        ts = hour + rng.integers(0, HOUR_US, n_new)
        ts[:n_late] = hour - rng.integers(1, HOUR_US // 2, n_late)
        batch = _events(rng, ids, ts, 5_000)
        if n_dup:
            batch = pa.concat_tables(
                [batch, sent.take(rng.integers(0, sent.num_rows, n_dup))]
            )
        new_rows = batch.slice(0, n_new)
        sent = new_rows if sent is None else pa.concat_tables([sent, new_rows])
        yield batch
