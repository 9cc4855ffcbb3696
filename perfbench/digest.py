"""Order-insensitive digests used by the correctness checks.

``table_digest`` hashes a pandas frame column-wise with numpy (fast enough
to run after every operation): every value maps to a 64-bit hash by its
Canvas type, rows combine their columns in name order, and the table digest
is the row count plus the wrapping sum of row hashes. The generator's
frames and the compacted parquet read back through pyarrow (a reader
independent of the engine) must agree.

``canonical_result`` canonicalises a query result with the repository's own
oracle gate, ``tests/oracle_utils.canonical_rows`` (columns by name, floats
rounded to 9 decimals), and ``result_diff`` compares a Spark result with the
query's DuckDB oracle.
"""

from __future__ import annotations

import importlib.util
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

_NULL = np.uint64(0x9E3779B97F4A7C15)
_MIX = np.uint64(1_000_003)


def _column_hash(s: pd.Series, ctype: str) -> np.ndarray:
    mask = s.isna().to_numpy()
    if ctype in ("date", "datetime"):
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert(None)
        vals = pd.to_datetime(s).astype("datetime64[us]").to_numpy().view("int64")
    elif ctype in ("bigint", "integer", "boolean"):
        vals = s.fillna(0).astype("int64").to_numpy()
    elif ctype == "double precision":
        vals = s.fillna(0.0).astype("float64").to_numpy()
    else:
        vals = s.where(~mask, "").astype(str).to_numpy(dtype=object)
    h = pd.util.hash_array(vals)
    h[mask] = _NULL
    return h


def table_digest(frame: pd.DataFrame, columns: list[dict]) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of ``frame`` typed by the
    Canvas column descriptors ``columns``."""
    acc = np.zeros(len(frame), dtype="uint64")
    with np.errstate(over="ignore"):
        for col in sorted(columns, key=lambda c: c["name"]):
            acc = acc * _MIX ^ _column_hash(frame[col["name"]], col["type"])
        return len(frame), int(acc.sum(dtype="uint64"))


def parquet_frame(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _load_oracle_utils():
    """``tests/oracle_utils.py``, loaded by path so that no other ``tests``
    package on ``sys.path`` can stand in for it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_utils", os.path.join(root, "tests", "oracle_utils.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_oracle_utils = _load_oracle_utils()


def canonical_result(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns in name order and rows as the oracle gate canonicalises them,
    sorted on their floats rounded to integers so that two engines' rows
    still line up when a rounded aggregate differs in its last digit."""
    canon = _oracle_utils.canonical_rows(columns, rows)

    def key(row):
        return tuple(repr(round(v) if isinstance(v, float) else v) for v in row)

    return sorted(columns), sorted(canon, key=key)


def _decimals(values) -> int | None:
    """The fewest decimals, 1 to 4, that write every float in ``values``
    exactly; None when that takes more than 4 or none at all."""
    floats = [v for v in values if isinstance(v, float)]
    for d in range(1, 5):
        if all(round(v, d) == v for v in floats):
            return d if any(round(v) != v for v in floats) else None
    return None


def result_diff(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> str | None:
    """None when both results have the same columns, the same row count and
    the same values, else the first difference. Values compare exactly after
    canonicalisation, with one exception: a column whose floats all carry at
    most four decimals (the query rounds it, as in ``ROUND(SUM(x), 2)``) may
    differ by one unit in its last decimal, because each engine sums in its
    own order and can land on either side of a rounding tie."""
    (cols_a, rows_a), (cols_b, rows_b) = a, b
    if cols_a != cols_b:
        return f"columns {cols_a} != {cols_b}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    decimals = [_decimals([r[j] for r in rows_a + rows_b]) for j in range(len(cols_a))]
    for ra, rb in zip(rows_a, rows_b):
        for x, y, d in zip(ra, rb, decimals):
            if x == y:
                continue
            if d is None or not (isinstance(x, float) and isinstance(y, float)):
                return f"row {ra} != {rb}"
            if round(abs(x - y) * 10**d) > 1:  # in units of the last decimal
                return f"row {ra} != {rb}"
    return None
