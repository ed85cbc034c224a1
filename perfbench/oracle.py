"""Expected query outputs from the DuckDB oracle, as order-insensitive
fingerprints, and the matching fingerprint of a Spark result.

Normalization is the repository's oracle gate's (``tools/check_oracle.py``):
columns are compared by name, rows as an unordered multiset, floats at 10
significant digits.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter


def result_fingerprint(columns: list[str], rows) -> dict:
    """Row count, sorted column names and a hash of the row multiset."""
    # The oracle gate's own value normalization; imported here, not at
    # module level, because it loads DuckDB and the package.
    from tools.check_oracle import _norm_value

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    bag = Counter(repr(tuple(_norm_value(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256()
    for item, count in sorted(bag.items()):
        h.update(f"{count}\t{item}\n".encode())
    return {
        "rows": sum(bag.values()),
        "columns": sorted(columns),
        "hash": h.hexdigest(),
    }


def expected_outputs(
    input_dir: str, tables: tuple[str, ...], oracle_sql: dict[str, str]
) -> dict[str, dict]:
    """Run each oracle query on DuckDB over the derived input files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(input_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in oracle_sql.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = result_fingerprint(cols, cur.fetchall())
        return out
    finally:
        con.close()


def cached_expected_outputs(
    cache_path: str,
    key: dict,
    input_dir: str,
    tables: tuple[str, ...],
    oracle_sql: dict[str, str],
) -> dict[str, dict]:
    """``expected_outputs`` memoized in ``cache_path`` under ``key``
    (seed, input fingerprint and oracle SQL), recomputed on any change."""
    try:
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["expected"]
    except (OSError, ValueError):
        pass
    expected = expected_outputs(input_dir, tables, oracle_sql)
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"key": key, "expected": expected}, f)
    os.replace(tmp, cache_path)
    return expected


def sql_digest(oracle_sql: dict[str, str]) -> str:
    return hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()
