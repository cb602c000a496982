"""Reference results for the benchmark's correctness checks.

Each catalog query's DuckDB oracle (``catalog.build_catalog``'s second map)
is run once per dataset and kept in ``.perfbench/refs``, keyed by a digest
of the oracle SQL, so a changed oracle is recomputed and an unchanged one is
never paid for twice. Spark results are compared with ``tools/parity.py``'s
``compare``, the repo's own canonicalisation: row count, column names, and
order-insensitive values.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from pathlib import Path

import pandas as pd


def _load_parity(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", root / "tools" / "parity.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class References:
    """Oracle results for one dataset directory."""

    def __init__(self, root: Path, data_dir: str, cache_dir: str, oracles: dict):
        self._parity = _load_parity(root)
        self._data_dir = data_dir
        self._cache_dir = cache_dir
        self._oracles = oracles
        self._frames: dict[str, pd.DataFrame] = {}

    def load(self, names: list[str]) -> None:
        """Load (computing when absent) the reference of every name."""
        os.makedirs(self._cache_dir, exist_ok=True)
        con = None
        try:
            for name in names:
                sql = self._oracles[name]
                digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
                path = os.path.join(self._cache_dir, f"{name}-{digest}.pkl")
                if not os.path.exists(path):
                    if con is None:
                        con = self._duckdb()
                    tmp = f"{path}.tmp{os.getpid()}"
                    con.execute(sql).fetchdf().to_pickle(tmp)
                    os.replace(tmp, path)
                # written by this module above, never taken from outside
                self._frames[name] = pd.read_pickle(path)
        finally:
            if con is not None:
                con.close()

    def _duckdb(self):
        import duckdb

        con = duckdb.connect()
        for t in self._parity.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self._data_dir, t)}.parquet'"
            )
        return con

    def frame(self, name: str) -> pd.DataFrame:
        return self._frames[name]

    def corrupt(self, name: str) -> None:
        """Drop one row of a reference: the smoke test's wrong reference."""
        self._frames[name] = self._frames[name].iloc[1:].reset_index(drop=True)

    def check(self, name: str, columns: list[str], rows: list) -> list[str]:
        """Problems found comparing collected Spark rows with the reference
        (empty when they match)."""
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        return self._parity.compare(got, self._frames[name])
