"""Order-insensitive value hashes for result checking.

Both sides go through the parity harness's own normalization
(`tests/oracle_harness._normalize`: name-sorted columns, int/float/bool/
timestamp dtypes unified), then every cell is reduced to a canonical
Python value and the rows are sorted by their repr before hashing. Floats
stay bit-exact (repr round-trips), as in the harness's float compare;
integral floats collapse to ints so an int column with NULLs (float64
in pandas) hashes like its integer twin, and NaN collapses to NULL.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))

from bigdatabowl2024_25_spark.sources.io import TESTDATA_TABLES  # noqa: E402
from oracle_harness import _normalize  # noqa: E402

__all__ = ["frame_hash", "rows_hash", "oracle_hash"]

ORACLE_THREADS = 2

_EPOCH = _dt.datetime(1970, 1, 1)


def _cell(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else v + 0.0
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1000)
    if isinstance(v, _dt.datetime):
        return (v.replace(tzinfo=None) - _EPOCH) // _dt.timedelta(microseconds=1)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def frame_hash(df: pd.DataFrame) -> str:
    """sha256 over the canonical, row-sorted contents of `df`."""
    norm = _normalize(df)
    rows = sorted(
        repr(tuple(_cell(v) for v in row))
        for row in norm.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update(repr(list(norm.columns)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_hash(columns: list[str], rows: list) -> str:
    """Hash of collected Spark rows (`DataFrame.collect()` output)."""
    return frame_hash(
        pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    )


def oracle_hash(sql: str, in_dir: str) -> str:
    """Hash of the DuckDB oracle's answer over the parquet tables in `in_dir`.

    The views are those of the harness's `run_oracle`; DuckDB is held to
    ORACLE_THREADS so that the oracle, which runs beside the Spark
    set-up, leaves most cores to it."""
    con = duckdb.connect(config={"threads": ORACLE_THREADS})
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
        return frame_hash(con.execute(sql).df())
    finally:
        con.close()
