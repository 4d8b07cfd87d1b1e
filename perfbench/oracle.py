"""Expected results from the DuckDB oracles, cached on disk.

A query's result and its oracle's are compared as SHA-256 digests of
``tools/canon.py``'s type-tagged canonical form.  An oracle digest is
stored under a key made of the oracle SQL and the size and modification
time of every input table, so it is computed once per checkout and
recomputed whenever the SQL or the data changes.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from eecs485_p4_mapreduce_spark.sources import TABLES
from tools.canon import canon


def digest(rows, cols) -> str:
    """SHA-256 of the type-tagged canonical form of a result."""
    values, names = canon(rows, cols)
    return hashlib.sha256(json.dumps([names, values]).encode()).hexdigest()


class OracleCache:
    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._con = None
        stamp = []
        for t in TABLES:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        self._data_stamp = "|".join([os.path.abspath(sf_dir), *stamp])

    def _connection(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def expected(self, name: str, sql: str | None) -> str:
        if sql is None:
            raise ValueError(f"{name} has no oracle")
        key = hashlib.sha256(f"{self._data_stamp}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        try:
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)["digest"]
        except (OSError, ValueError, KeyError):
            pass
        rel = self._connection().sql(sql)
        value = digest(rel.fetchall(), rel.columns)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"query": name, "digest": value}, fh)
        os.replace(tmp, path)
        return value
