"""Output checks: an order-insensitive hash of each operation's result,
compared with the same hash of its registry DuckDB oracle.

Both sides are hashed by DuckDB with one normalisation, so a value
reads the same whichever engine produced it: columns sorted by name,
integers of any width as decimal text, floating and decimal values as
DOUBLE text (NaN and signed zero folded), timestamps as UTC wall-clock,
lists element by element. The hash is (row count, sum and xor of the
per-row hashes), which does not depend on row order.

Expected hashes are cached per (input fingerprint, operation, oracle
text) in a JSON file, so an oracle runs once per input content.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

_FLOAT = ("FLOAT", "DOUBLE", "REAL", "DECIMAL")


def _norm(expr: str, typ: str) -> str:
    """SQL that renders ``expr`` of DuckDB type ``typ`` engine-neutrally."""
    t = typ.upper()
    if t.endswith("[]"):
        inner = _norm("e", t[:-2])
        return f"CAST(list_transform({expr}, e -> {inner}) AS VARCHAR)"
    if t.startswith(_FLOAT):
        d = f"CAST({expr} AS DOUBLE)"
        return (f"CASE WHEN isnan({d}) THEN 'NaN' WHEN {d} = 0 THEN '0.0' "
                f"ELSE CAST({d} AS VARCHAR) END")
    if t.startswith("TIMESTAMP"):
        return f"CAST(CAST({expr} AS TIMESTAMP) AS VARCHAR)"
    # integers of any width, strings, booleans, dates, maps, structs
    return f"CAST({expr} AS VARCHAR)"


def relation_hash(con: duckdb.DuckDBPyConnection, rel: duckdb.DuckDBPyRelation) -> str:
    """Order-insensitive content hash of ``rel``: sorted column names,
    row count, and the sum and xor of normalised per-row hashes."""
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    name = f"_h_{abs(hash(id(rel)))}"
    con.register(name, rel)
    try:
        if cols:
            row = ", ".join(_norm(f'"{c}"', t) for c, t in cols)
            sql = (f"SELECT count(*), coalesce(sum(h), 0), coalesce(bit_xor(h), 0) "
                   f"FROM (SELECT CAST(hash({row}) AS HUGEINT) AS h FROM {name})")
        else:
            sql = f"SELECT count(*), 0, 0 FROM {name}"
        n, s, x = con.execute(sql).fetchone()
    finally:
        con.unregister(name)
    names = ",".join(c for c, _ in cols)
    return f"{n}:{s}:{x}:{hashlib.sha1(names.encode()).hexdigest()[:12]}"


def row_count(expected: str) -> int:
    return int(expected.split(":", 1)[0])


class OracleChecker:
    """Expected hashes for one input directory, cached on disk."""

    def __init__(self, sf_dir: str, fingerprint: str, cache_path: str, tables):
        self.sf_dir, self.fingerprint, self.cache_path = sf_dir, fingerprint, cache_path
        self.tables = tables
        self._con = None
        self._cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                self._cache = json.load(fh)

    def _duck(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            con.execute(f"SET threads TO {os.cpu_count() or 4}")
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.isdir(path):
                    path = os.path.join(path, "*.parquet")
                elif not os.path.exists(path):
                    continue
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self._con = con
        return self._con

    def expected(self, op: str, oracle_sql: str) -> str:
        key = "|".join((self.fingerprint, op,
                        hashlib.sha1(oracle_sql.encode()).hexdigest()))
        if key not in self._cache:
            con = self._duck()
            self._cache[key] = relation_hash(con, con.sql(oracle_sql))
            self._save()
        return self._cache[key]

    def actual(self, arrow_table) -> str:
        con = self._duck()
        return relation_hash(con, con.from_arrow(arrow_table))

    def _save(self) -> None:
        tmp = f"{self.cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self._cache, fh, indent=0, sort_keys=True)
        os.replace(tmp, self.cache_path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def verdict(actual: str, expected: str | None) -> str | None:
    """None when the result passes, else a one-line reason. Without an
    oracle the rows-only contract applies: at least one row."""
    if expected is None:
        return None if row_count(actual) > 0 else "rows-only result is empty"
    if actual != expected:
        return f"hash mismatch: got {actual}, oracle {expected}"
    return None
