"""Result normalization and the DuckDB oracle side of the correctness check.

Normalization is ``tools/check.py``'s own: columns sorted by name, floats
printed at 6 decimals, rows sorted, so the comparison is
order-insensitive. A result is reduced to ``(columns, row count, sha256)``
so that oracle results can be cached on disk per input directory, key and
oracle SQL text.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

CHECK_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py"
)
_NORMALIZE = None


def _normalize():
    """``tools/check.py``'s ``_normalize``, loaded from its file so that the
    benchmark and the repository's correctness gate normalize alike."""
    global _NORMALIZE
    if _NORMALIZE is None:
        spec = importlib.util.spec_from_file_location("_repo_check", CHECK_PY)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _NORMALIZE = mod._normalize
    return _NORMALIZE


def digest(pdf) -> dict:
    """``{"columns", "rows", "sha256"}`` of a pandas frame, normalized as
    ``tools/check.py`` does."""
    cols, rows = _normalize()(pdf)
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r).encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def mismatch(got: dict, want: dict) -> str | None:
    """Why two digests differ, or None when they match."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ from oracle"
    return None


class OracleCache:
    """DuckDB oracle digests for one input directory, cached on disk."""

    def __init__(self, sf_dir: str, cache_dir: str, table_names, threads: int):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.table_names = table_names
        self.threads = threads
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {self.threads}")
        for t in self.table_names:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        return con

    def get(self, key: str, sql: str) -> dict:
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{key}.{sql_hash}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if self._con is None:
            self._con = self._connect()
        want = digest(self._con.execute(sql).fetchdf())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
