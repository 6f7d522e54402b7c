"""Untimed output check, run once per benchmark run after the passes.

- keys with an oracle: the Spark output is compared with the DuckDB
  oracle over the same parquet files through ``tools/parity.compare``;
- ``fit_*`` keys: the behavioural invariants of
  ``tools/fit_invariants.check_key``;
- any other key: the output must be non-empty.

DuckDB results are cached on disk per (data dir, oracle SQL), so runs
that share a seed pay each oracle once.
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

import duckdb

from tools import fit_invariants, parity


class OracleCache:
    """DuckDB over one data dir, with results pickled under ``cache_dir``."""

    def __init__(self, sf_dir: str, data_id: str, cache_dir: Path, threads: int):
        self.sf_dir, self.data_id, self.cache_dir = sf_dir, data_id, cache_dir
        self.threads = threads
        self._con = None
        cache_dir.mkdir(parents=True, exist_ok=True)

    def _connection(self):
        if self._con is None:
            con = duckdb.connect()
            con.execute(f"PRAGMA threads={self.threads}")
            con.execute("PRAGMA memory_limit='2GB'")
            con.execute(f"PRAGMA temp_directory='{self.cache_dir / 'spill'}'")
            for t in parity.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self._con = con
        return self._con

    def rows(self, name: str, sql: str):
        digest = hashlib.sha1(f"{self.data_id}\n{sql}".encode()).hexdigest()
        path = self.cache_dir / f"{digest}.pkl"
        if path.exists():
            with open(path, "rb") as fh:
                return pickle.load(fh)
        con = self._connection()
        value = con.execute(parity.materialized_oracle(con, name, sql)).fetchdf()
        tmp = path.with_suffix(".tmp")
        with open(tmp, "wb") as fh:
            pickle.dump(value, fh)
        tmp.replace(path)
        return value

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def check_key(sdf, name: str, oracle_sql: str | None, oracle: OracleCache,
              n_corpus: int) -> list[str]:
    """Problems found in one key's output ``sdf``; empty when it is correct."""
    if oracle_sql is not None:
        return parity.compare(name, sdf.toPandas(), oracle.rows(name, oracle_sql))
    if name.startswith("fit_"):
        cols, rows = fit_invariants._rows(sdf)
        return [
            f"{inv}: {detail}"
            for inv, ok, detail in fit_invariants.check_key(name, cols, rows, n_corpus)
            if not ok
        ]
    return [] if sdf.limit(1).count() > 0 else ["empty output"]
