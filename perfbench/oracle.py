"""Check a query's Spark result against its DuckDB oracle.

Rows are canonicalised and compared exactly as the repository's oracle
parity test does (``tests/test_oracle_parity.py``): same sorted column
names, same row count, same order-insensitive canonical rows.

A canonical answer depends only on the oracle's SQL, the bytes of the source
tables, the DuckDB version and the canonicalisation code (this file and the
parity test), so it is kept on disk under a hash of all four. The slowest
oracles take several seconds in DuckDB (``dedup_cluster_canonical`` 5-9 s
on 4 cores at sf0.01); with the store, only the first run in a checkout
pays for them.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

_TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
_CODE = (os.path.abspath(__file__), os.path.join(_TESTS, "test_oracle_parity.py"))


def _canonical_rows():
    if _TESTS not in sys.path:
        sys.path.insert(0, _TESTS)
    from test_oracle_parity import _rows

    return _rows


def _canonical(frame, rows_fn) -> tuple:
    cols = list(frame.columns)
    return sorted(cols), len(frame), rows_fn(cols, [frame[c].tolist() for c in cols])


class Oracle:
    """DuckDB oracle answers over one directory of source tables."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], store_dir: str) -> None:
        import duckdb

        self._data_dir = data_dir
        self._tables = tables
        self._store_dir = store_dir
        self._con = None
        self._rows = _canonical_rows()
        digest = hashlib.sha256(duckdb.__version__.encode())
        for path in _CODE + tuple(os.path.join(data_dir, f"{t}.parquet") for t in tables):
            with open(path, "rb") as f:
                digest.update(hashlib.sha256(f.read()).digest())
        self._key = digest.hexdigest()

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for t in self._tables:
                path = os.path.join(self._data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def expected(self, sql: str) -> tuple:
        key = hashlib.sha256(f"{self._key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self._store_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        frame = self._duck().execute(sql).fetch_arrow_table().to_pandas()
        answer = _canonical(frame, self._rows)
        os.makedirs(self._store_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(answer, f)
        os.replace(path + ".tmp", path)
        return answer

    def mismatch(self, sql: str | None, result) -> str | None:
        """None when the pandas ``result`` matches ``sql``'s rows, else why
        not. A query without an oracle only has to have produced columns."""
        if sql is None:
            return None if len(result.columns) > 0 else "no columns"
        got_cols, got_n, got_rows = _canonical(result, self._rows)
        want_cols, want_n, want_rows = self.expected(sql)
        if got_cols != want_cols:
            return f"columns {got_cols} != {want_cols}"
        if got_n != want_n:
            return f"{got_n} rows != {want_n}"
        for i, (a, b) in enumerate(zip(got_rows, want_rows)):
            if a != b:
                return f"row {i}: {a} != {b}"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
