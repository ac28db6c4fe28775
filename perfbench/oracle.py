"""Output checks against the DuckDB oracle.

Results are compared by canonical hash with the semantics of
``scripts/simlib.canonical_hash`` (columns sorted by name, each cell
canonicalised, rows sorted, sha256). :func:`canonical_hash` here computes
the same digest column by column; the tests hold it equal to the simlib
form, which stays the reference. It is kept because hashing is most of a
run's untimed check pass: over the 21 query results at scale 0.1 it takes
7.7 s where simlib's row-wise form takes 16.6 s, and with simlib's form the
check pass of ``analyst_queries`` grew from 9-10 s to 14-17 s and that of
``llm_dedup`` from 11-12 s to 16-19 s (4-vCPU host), which puts the
benchmark's full set of runs at the edge of its time budget.

Oracle hashes are cached by table *content digest* (see ``data.py``): a
``--seed`` only permutes rows, and every oracle is order-insensitive, so
one digest's hashes serve every seed. ``oracle_hashes.json`` ships the
hashes of the default tables, because a few oracles are slow (the
all-pairs ``q_jaccard_join`` oracle runs for minutes); any other digest is
computed on first use and cached under the run's cache directory.

Run ``python3 perfbench/oracle.py <scale>`` to recompute the shipped file.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pandas.api.types as pt

from data import TABLES

SHIPPED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "\0N"
    if isinstance(v, (list, np.ndarray)):
        v = tuple(v)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return repr(round(float(v), 6))
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _column(s: pd.Series) -> list[str]:
    if pt.is_bool_dtype(s) and s.dtype != object:
        return ["True" if v else "False" for v in s.tolist()]
    if pt.is_integer_dtype(s) and s.dtype != object:
        return [str(v) for v in s.tolist()]
    if pt.is_float_dtype(s):
        return ["\0N" if v != v else repr(round(v, 6)) for v in s.tolist()]
    if pt.is_datetime64_any_dtype(s):
        return [pd.Timestamp(v).isoformat() for v in s.astype("datetime64[us]")]
    return [_cell(v) for v in s.tolist()]


def canonical_hash(df: pd.DataFrame) -> str:
    """``simlib.canonical_hash`` of ``df``, computed per column."""
    cols = sorted(df.columns)
    rows = list(zip(*(_column(df[c]) for c in cols))) if len(df) else []
    rows.sort()
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


def duckdb_connection(table_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


class OracleCache:
    """Expected result hash per query for one table-content digest."""

    def __init__(self, digest: str, table_dir: str, cache_dir: str, threads: int):
        self.digest = digest
        self.table_dir = table_dir
        self.threads = threads
        self.path = os.path.join(cache_dir, f"oracle-{digest}.json")
        self.hashes: dict[str, str] = {}
        for p in (SHIPPED, self.path):
            if os.path.exists(p):
                with open(p) as f:
                    self.hashes.update(json.load(f).get(digest, {}))

    def expected(self, specs: dict) -> dict[str, str]:
        """Hashes for every query in ``specs`` (name -> QuerySpec); misses
        are run in DuckDB once and cached."""
        missing = [n for n in specs if n not in self.hashes]
        if missing:
            con = duckdb_connection(self.table_dir, self.threads)
            try:
                for name in missing:
                    self.hashes[name] = canonical_hash(con.execute(specs[name].oracle).fetchdf())
            finally:
                con.close()
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({self.digest: self.hashes}, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return {n: self.hashes[n] for n in specs}


def main(argv: list[str]) -> int:
    """Recompute the shipped oracle hashes for one scale."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    from crypto_data_ingestion_script_spark.registry import load_all

    import data
    import workloads

    scale = argv[1] if len(argv) > 1 else "0.1"
    cache = os.path.join(os.path.dirname(here), ".perfbench", "data")
    table_dir, digest = data.write_tables(scale, 0, cache)
    registry = load_all()
    names = workloads.ANALYST_QUERIES + workloads.LLM_QUERIES
    oracle = OracleCache(digest, table_dir, cache, os.cpu_count() or 1)
    oracle.hashes = {}
    hashes = oracle.expected({n: registry[n] for n in names})
    shipped = {}
    if os.path.exists(SHIPPED):
        with open(SHIPPED) as f:
            shipped = json.load(f)
    shipped[digest] = hashes
    with open(SHIPPED, "w") as f:
        json.dump(shipped, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"scale {scale}: digest {digest}, {len(hashes)} hashes -> {SHIPPED}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv))
