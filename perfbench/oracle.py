"""Result checks against the DuckDB oracle twins.

Uses the canonical form of ``tools/selfcheck.py`` (columns sorted by
name, dtypes normalized, rows sorted by every column), so a result
matches exactly when the oracle harness would accept it. The digest of
the canonical form identifies a result across runs and seeds.

The oracle runs on the *source* tables, not on the seeded permutation
the program reads: a permutation does not change the relation, so the
expected result is the same for every seed, and a query whose result
depends on input order fails the check. Expected results are cached
per (oracle SQL, source file identity), because several oracles take
seconds at sf0.1 and would otherwise be recomputed by every run.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import duckdb
import pandas as pd

from tools.selfcheck import TABLES, canon, dtype_class


def digest(frame: pd.DataFrame) -> str:
    """Order-insensitive digest of a canonical frame."""
    h = hashlib.sha256()
    h.update(repr([(c, dtype_class(frame[c])) for c in frame.columns])
             .encode())
    h.update(pd.util.hash_pandas_object(frame, index=False).values.tobytes())
    return h.hexdigest()[:16]


class Oracle:
    """Expected results of ``ORACLES[name]`` on DuckDB over the source
    tables in ``sf_dir``, kept in canonical form under ``cache_dir``."""

    def __init__(self, sf_dir: str, oracles: dict[str, str], cache_dir: str):
        self._sf_dir = sf_dir
        self._sql = oracles
        self._cache_dir = cache_dir
        self._con = None
        self._expected: dict[str, pd.DataFrame] = {}
        stamps = []
        for t in TABLES:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            stamps.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        self._stamp = "|".join(stamps)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()

    def expected(self, name: str) -> pd.DataFrame:
        if name in self._expected:
            return self._expected[name]
        sql = self._sql[name]
        key = hashlib.sha256(f"{self._stamp}|{sql}".encode()).hexdigest()
        path = os.path.join(self._cache_dir, f"{name}-{key[:16]}.pkl")
        if os.path.exists(path):
            frame = pd.read_pickle(path)
        else:
            if self._con is None:
                self._con = duckdb.connect()
                for t in TABLES:
                    src = os.path.join(self._sf_dir, f"{t}.parquet")
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
            frame = canon(self._con.execute(sql).fetchdf())
            os.makedirs(self._cache_dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=self._cache_dir, suffix=".tmp")
            os.close(fd)
            frame.to_pickle(tmp)
            os.replace(tmp, path)
        self._expected[name] = frame
        return frame

    def check(self, name: str, result: pd.DataFrame,
              reference_rows: int | None) -> tuple[bool, str]:
        """Whether ``result`` matches the oracle; returns (ok, digest).
        A query with no oracle is checked by row count against
        ``reference_rows`` (its warm-up result)."""
        got = canon(result)
        key = digest(got)
        if name not in self._sql:
            return (reference_rows is None or len(got) == reference_rows,
                    key)
        want = self.expected(name)
        if (len(got) != len(want) or list(got.columns) != list(want.columns)
                or any(dtype_class(got[c]) != dtype_class(want[c])
                       for c in got.columns)):
            return False, key
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
        except AssertionError:
            return False, key
        return True, key
