"""Output checks against the registry's DuckDB oracles.

An op's output is reduced to an order-insensitive value hash: columns
sorted by name, each value by ``repr``, rows sorted. The same hash is
taken of the oracle's result. Expected hashes are keyed by the oracle
SQL and a digest of the generated input values, so each oracle runs
once per (SQL, inputs) pair; any change to either misses the cache and
reruns the oracle. ``expected.json`` next to this file is a read-only
seed; a miss is stored in ``.perfbench_out/expected.json`` in the
checkout, merged under a file lock so concurrent runs keep each
other's entries. To refresh the seed, copy that file over it.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = os.path.join(HERE, "expected.json")
LOCAL = os.path.join(os.path.dirname(HERE), ".perfbench_out", "expected.json")


def _load(path: str) -> dict[str, str]:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    recs = sorted(tuple(repr(v) for v in row.tolist()) for _, row in pdf.iterrows())
    return hashlib.md5(repr((list(pdf.columns), recs)).encode()).hexdigest()


class Expected:
    """Cached oracle hashes for one generated input set."""

    def __init__(self, data_dir: str, data_digest: str) -> None:
        self.data_dir = data_dir
        self.digest = data_digest
        self.oracle_s = 0.0
        self._con: duckdb.DuckDBPyConnection | None = None
        self._cache = {**_load(SEED), **_load(LOCAL)}
        self._new: dict[str, str] = {}

    def get(self, sql: str) -> str:
        key = hashlib.sha256(f"{self.digest}\n{sql}".encode()).hexdigest()[:24]
        if key not in self._cache:
            t0 = time.perf_counter()
            if self._con is None:
                from geoscale_healthflow_etl_django_analytics_spark.testing import (
                    duckdb_connection,
                )

                self._con = duckdb_connection(self.data_dir)
            self._cache[key] = self._new[key] = value_hash(self._con.execute(sql).fetchdf())
            self.oracle_s += time.perf_counter() - t0
        return self._cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        if not self._new:
            return
        os.makedirs(os.path.dirname(LOCAL), exist_ok=True)
        with open(f"{LOCAL}.lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            merged = {**_load(LOCAL), **self._new}
            tmp = f"{LOCAL}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(dict(sorted(merged.items())), f, indent=0)
                f.write("\n")
            os.replace(tmp, LOCAL)
