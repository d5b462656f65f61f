"""Expected outputs from the registry's DuckDB oracles, computed outside
timing and cached on disk, keyed by the corpus manifest and the SQL.

Rows are compared the way the repository's oracle-parity tests compare
them: columns ordered by name, NaN made comparable, rows sorted, and
every value equal.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def normalize(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(
            "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
            for i in order
        )
        for r in rows
    ]
    return sorted(out, key=repr)


def spark_rows(df_cols: list[str], rows) -> list[tuple]:
    return normalize(df_cols, [tuple(r) for r in rows])


class Oracle:
    """DuckDB views over one corpus directory plus an on-disk cache."""

    def __init__(self, data_dir: str, manifest: dict, cache_dir: str):
        self.data_dir = data_dir
        self.key = json.dumps(manifest, sort_keys=True)
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.cache_dir}/duckdb_tmp'")
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def rows(self, sql: str) -> list[tuple]:
        digest = hashlib.sha256((self.key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{digest}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        out = normalize([d[0] for d in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
