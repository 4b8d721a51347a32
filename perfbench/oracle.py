"""Order-insensitive result digests and the DuckDB oracle check.

A digest is a sha256 over the repository's oracle rowset
(``tests/oracle_util.rowset``: a multiset of rows, columns sorted by
name, values normalised and type-tagged), so two results have the same
digest exactly when the oracle tests would call them equal.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from oracle_util import rowset  # noqa: E402


def _scalar(v):
    """Array cells (k-means centroids) as JSON text, floats rounded as
    the rowset rounds them: the oracle rowset takes scalar cells only."""
    if isinstance(v, (list, tuple, np.ndarray)):
        a = np.asarray(v)
        return json.dumps((a.round(9) if a.dtype.kind == "f" else a).tolist())
    return v


def frame_digest(pdf) -> str:
    """Digest of a pandas DataFrame."""
    cols = list(pdf.columns)
    rows = [tuple(_scalar(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    body = "\n".join(sorted(repr(item) for item in rowset(cols, rows)))
    head = ",".join(sorted(cols)) + f"|{len(rows)}|"
    return hashlib.sha256((head + body).encode()).hexdigest()[:16]


def duckdb_digests(sf_dir: str, tables: list[str], sqls: dict[str, str]) -> dict[str, str]:
    """Digest of each oracle statement over the parquet tables in
    ``sf_dir``. Views are made for ``tables`` only, where
    ``oracle_util.register_views`` wants every table of the sf layout."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: frame_digest(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
