"""Seeded benchmark inputs.

Two kinds of input are generated here, never read from outside the
checkout:

* **Tables.** A TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``, with the row counts and value shapes of the engine's
  reference test data at the same scale factor. The *content* comes from a
  fixed base seed, so every ``--seed`` sees the same multiset of rows; the
  seed decides the *row order* of every table (one permutation per table).
  Order-insensitive query answers are therefore seed-invariant, which is
  what lets the DuckDB oracle hashes be cached once per content digest.
* **Ticks.** The reference pipeline's input: ``n_symbols`` symbols polled
  every ``poll_s`` seconds, random-walk prices, landing in fixed-size
  batches. A stated share of ticks lands one batch late (out of order, but
  newer than the stream watermark) and a stated share is re-delivered.

Everything is a pure function of ``(scale, seed)``; the same pair gives
byte-identical parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Content seed of the tables. Changing it changes every oracle hash.
BASE_SEED = 20261017

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Row counts per scale factor, matching the reference test data.
ROWS: dict[str, dict[str, int]] = {
    "0.1": {
        "customer": 15_000,
        "supplier": 1_000,
        "part": 20_000,
        "orders": 150_000,
        "lineitem": 600_000,
        "events": 100_000,
        "users": 1_500,
        "documents": 5_000,
        "embeddings": 2_000,
    },
    "0.001": {
        "customer": 150,
        "supplier": 10,
        "part": 200,
        "orders": 1_500,
        "lineitem": 6_000,
        "events": 1_000,
        "users": 15,
        "documents": 500,
        "embeddings": 500,
    },
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "green", "old"]
_PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "widget", "gear", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: Share of documents that are a copy of an earlier one plus one token, and
#: share that are exact copies: the near- and exact-duplicate workload.
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale: str) -> dict[str, pa.Table]:
    """The tables' content at ``scale``, in key order (seed-independent)."""
    rows = ROWS[scale]
    rng = np.random.default_rng(BASE_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(_SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(rng.choice(_PART_ADJ, n), " "), rng.choice(_PART_NOUN, n)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": rng.choice(_PART_TYPES, n),
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
        }
    )
    n = rows["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, rows["customer"], n, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }
    )
    n = rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, rows["orders"], n, dtype=np.int64),
            "l_partkey": rng.integers(0, rows["part"], n, dtype=np.int64),
            "l_suppkey": rng.integers(0, rows["supplier"], n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n),
        }
    )
    n = rows["events"]
    raw = np.sort(rng.integers(0, 30 * _DAY_US, n))
    # Strictly increasing event times: ties would make first/last-by-time
    # ambiguous, and the oracle must have one answer.
    ts = np.maximum.accumulate(raw - np.arange(n)) + np.arange(n)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, rows["users"], n, dtype=np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, rows["documents"])
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    n_near = max(1, int(n * NEAR_DUP_SHARE))
    n_exact = max(1, int(n * EXACT_DUP_SHARE))
    kinds = np.zeros(n, dtype=np.int8)
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    kinds[copies[:n_near]] = 1
    kinds[copies[n_near:]] = 2
    for i in range(n):
        if kinds[i] == 0:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
        else:
            src = texts[int(rng.integers(0, n // 10))]
            texts.append(src + " dup" if kinds[i] == 1 else src)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def content_digest(tables: dict[str, pa.Table]) -> str:
    """Digest of the tables' content in key order: the oracle cache key."""
    h = hashlib.sha256()
    for name in TABLES:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def write_tables(scale: str, seed: int, cache_dir: str) -> tuple[str, str]:
    """Write every table, rows permuted by ``seed``, under ``cache_dir``.

    Returns ``(table_dir, content_digest)``. The directory is reused when a
    previous run with the same scale and seed completed it."""
    out = os.path.join(cache_dir, f"sf{scale}-seed{seed}")
    done = os.path.join(out, "_DIGEST")
    if os.path.exists(done):
        with open(done) as f:
            return out, f.read().strip()
    tables = base_tables(scale)
    digest = content_digest(tables)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([BASE_SEED, seed])
    for name in TABLES:
        t = tables[name]
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(digest)
    return out, digest


@dataclass(frozen=True)
class TickSpec:
    """Shape of the tick stream (see the module docstring)."""

    n_symbols: int = 400
    poll_s: int = 5
    polls_per_batch: int = 360
    late_share: float = 0.02
    dup_share: float = 0.01
    #: Late and re-delivered ticks come from the last ``late_window_s`` of
    #: their batch; the stream watermark must be longer than this.
    late_window_s: int = 600

    @property
    def ticks_per_batch(self) -> int:
        return self.n_symbols * self.polls_per_batch


TICK_START = np.datetime64("2024-03-01T00:00:00", "us")
TICK_SCHEMA = pa.schema(
    [("ts", pa.timestamp("us")), ("symbol", pa.string()), ("price", pa.float64())]
)


def tick_batches(spec: TickSpec, seed: int):
    """The seeded tick stream as an endless sequence of landing batches.

    Batch ``k`` holds the polls of its own interval, minus the ticks chosen
    to land late (they move to batch ``k + 1``), plus re-delivered copies of
    ticks from its own tail. Rows inside a batch are shuffled."""
    rng = np.random.default_rng([BASE_SEED, seed, 1])
    symbols = np.array([f"SYM{i:03d}" for i in range(spec.n_symbols)])
    price = np.exp(rng.uniform(np.log(1.0), np.log(50_000.0), spec.n_symbols))
    span_s = spec.polls_per_batch * spec.poll_s
    carry = None
    k = 0
    while True:
        steps = rng.normal(0.0, 0.001, (spec.polls_per_batch, spec.n_symbols))
        walk = price * np.exp(np.cumsum(steps, axis=0))
        price = walk[-1]
        offs = k * span_s + np.arange(spec.polls_per_batch) * spec.poll_s
        ts = TICK_START + (offs * 1_000_000).astype("timedelta64[us]")
        t = pa.table(
            {
                "ts": np.repeat(ts, spec.n_symbols),
                "symbol": np.tile(symbols, spec.polls_per_batch),
                "price": np.round(walk.ravel(), 2),
            },
            schema=TICK_SCHEMA,
        )
        in_tail = offs >= (k + 1) * span_s - spec.late_window_s
        tail = np.flatnonzero(np.repeat(in_tail, spec.n_symbols))
        n_late = int(round(spec.late_share * t.num_rows))
        n_dup = int(round(spec.dup_share * t.num_rows))
        pick = rng.choice(tail, n_late + n_dup, replace=False)
        late = np.zeros(t.num_rows, dtype=bool)
        late[pick[:n_late]] = True
        parts = [t.filter(pa.array(~late)), t.take(pa.array(pick[n_late:]))]
        if carry is not None:
            parts.append(carry)
        carry = t.filter(pa.array(late))
        b = pa.concat_tables(parts)
        yield b.take(pa.array(rng.permutation(b.num_rows)))
        k += 1
