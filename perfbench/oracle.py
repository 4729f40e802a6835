"""Output checks for the benchmark: DuckDB oracle answers, cached.

An oracle answer is stored as a digest of its normalized row set (the
same normalization ``tools/selfcheck.py`` compares exactly), so the
cache stays a few hundred bytes per entry. An entry is keyed by a hash
of the oracle SQL text and of the input parquet bytes: editing either
makes the key miss and the answer is recomputed.

Oracles are never computed inside a timed interval. Run
``python3 perfbench/oracle.py`` to fill every missing entry ahead of a
run; ``run.py`` does the same in a child process before its first
measurement in a fresh checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from collections.abc import Iterable, Sequence

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, "oracle_cache")

def _norm_cell(v: object) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rowset_digest(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """Order-insensitive digest of a result: columns sorted by name,
    cells rendered as ``tools/selfcheck.py`` renders them, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("|".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"columns": sorted(columns), "rows": len(lines), "digest": h.hexdigest()}


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def oracle_key(sql: str, tables: dict[str, str]) -> str:
    """Cache key: the oracle text plus the bytes of every input table."""
    h = hashlib.sha256(sql.encode())
    for name in sorted(tables):
        h.update(f"\0{name}\0{file_sha256(tables[name])}".encode())
    return h.hexdigest()[:20]


class OracleCache:
    """Digests of oracle answers, one JSON file per (name, key)."""

    def __init__(self, cache_dir: str = CACHE_DIR):
        self.cache_dir = cache_dir

    def _path(self, name: str, key: str) -> str:
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def get(self, name: str, key: str) -> dict | None:
        try:
            with open(self._path(name, key)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def put(self, name: str, key: str, entry: dict) -> None:
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = self._path(name, key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1, sort_keys=True)
            f.write("\n")
        os.replace(tmp, self._path(name, key))

    def answer(self, name: str, sql: str, tables: dict[str, str]) -> dict:
        """The cached digest for ``sql`` over ``tables``, computing and
        storing it on a miss."""
        key = oracle_key(sql, tables)
        hit = self.get(name, key)
        if hit is None:
            hit = run_duckdb(sql, tables)
            self.put(name, key, hit)
        return hit


def run_duckdb(sql: str, tables: dict[str, str]) -> dict:
    """Run an oracle over parquet files and return its digest."""
    import duckdb

    con = duckdb.connect()
    try:
        # the box is shared: bound the oracle's footprint
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '3GB'")
        for name, path in tables.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        rel = con.sql(sql)
        cols = [d[0] for d in rel.description]
        return rowset_digest(cols, rel.fetchall())
    finally:
        con.close()


def main() -> int:
    """Fill every cache entry the workloads can ask for."""
    from layout import REPO, small_tables

    sys.path.insert(0, REPO)
    from ballista_extensions_spark.queries import get_oracles
    from workloads import TPCH_NAME, kept_rows_oracle

    cache = OracleCache()
    wanted = [(n, sql, small_tables()) for n, sql in get_oracles().items() if TPCH_NAME.match(n)]
    wanted.append(kept_rows_oracle())
    for name, sql, tables in wanted:
        entry = cache.answer(name, sql, tables)
        print(f"{name}: {entry['rows']} rows", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
