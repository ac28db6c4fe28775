"""Seeded inputs: determinism, and what a seed may and may not change."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import data


def _file_hashes(d):
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, da = data.write_tables("0.001", 7, str(tmp_path / "a"))
    b, db = data.write_tables("0.001", 7, str(tmp_path / "b"))
    assert da == db
    assert _file_hashes(a) == _file_hashes(b)


def test_seed_permutes_rows_but_keeps_content(tmp_path):
    a, da = data.write_tables("0.001", 1, str(tmp_path))
    b, db = data.write_tables("0.001", 2, str(tmp_path))
    assert da == db
    ta = pq.read_table(os.path.join(a, "lineitem.parquet"))
    tb = pq.read_table(os.path.join(b, "lineitem.parquet"))
    assert ta.num_rows == tb.num_rows == data.ROWS["0.001"]["lineitem"]
    assert ta.column("l_extendedprice").to_pylist() != tb.column("l_extendedprice").to_pylist()
    key = ["l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice"]
    assert ta.sort_by([(k, "ascending") for k in key]).equals(tb.sort_by([(k, "ascending") for k in key]))


def test_row_counts_follow_the_scale():
    t = data.base_tables("0.001")
    rows = data.ROWS["0.001"]
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert t[name].num_rows == rows[name]


def test_tick_stream_is_seeded_and_has_the_stated_shares():
    spec = data.TickSpec()
    take = lambda seed: [b for _, b in zip(range(4), data.tick_batches(spec, seed))]
    a, b, c = take(3), take(3), take(4)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[1].equals(c[1])
    n = spec.ticks_per_batch
    late, dup = round(spec.late_share * n), round(spec.dup_share * n)
    assert a[0].num_rows == n - late + dup
    assert all(x.num_rows == n + dup for x in a[1:])
    # Late ticks of batch k land in batch k + 1, older than its own polls
    # but within the late window of the previous batch's end.
    ts = a[1].column("ts").to_numpy()
    start = data.TICK_START + np.timedelta64(spec.polls_per_batch * spec.poll_s, "s")
    older = ts[ts < start]
    assert len(older) == late
    assert (older >= start - np.timedelta64(spec.late_window_s, "s")).all()
    # Re-delivered ticks are exact copies of ticks in the same batch.
    rows = a[1].to_pylist()
    keys = [(r["ts"], r["symbol"]) for r in rows]
    assert len(keys) - len(set(keys)) == dup
