"""DuckDB cross-check of collected Spark results.

Both sides reduce to (row count, order-insensitive digest) with the
canonical value form and multiset logic of ``tools/oracle_sweep.py`` and
compare those. Runs outside every timed region.
"""

from __future__ import annotations

import hashlib
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from oracle_sweep import _mset  # noqa: E402


def digest(cols, rows) -> tuple[int, str]:
    h = hashlib.sha256()
    for line in _mset(list(cols), [tuple(r) for r in rows]):
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


class Oracle:
    """A DuckDB connection with one view per input table of ``data_dir``."""

    def __init__(self, data_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'"
            )

    def expect(self, sql: str) -> tuple[int, str]:
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        return digest(cols, rel.fetchall())

    def close(self) -> None:
        self.con.close()
