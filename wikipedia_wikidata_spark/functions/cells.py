"""Hierarchical cell codecs — the H3/S2 analog (F10 in SURVEY.md §2.5).

The sandbox has no h3/s2 packages (SURVEY.md §7.1), so the codec is built from
scratch: an equirectangular integer grid per resolution whose cell edge tracks
H3 res 5-9 edge lengths (config.CELL_RES_BITS), plus an S2-analog Morton
(Z-order) code for locality-preserving ordering. Three interchangeable
implementations of the SAME integer arithmetic:

1. numpy kernels (cell_xy / cell_id / morton) — used by vectorized Arrow
   pandas UDFs (north_star: "vectorized Arrow UDFs to batch-encode ... cells");
2. Spark Column expressions (cell_id_col) — JVM/codegen path for hot joins;
3. SQL text emitters (cell_sql / morton_sql) — the DuckDB oracle.

All three use identical IEEE double operations in identical order, so results
are bit-equal across engines.

Packing: cell_id = (res << 58) | (x << 29) | y   (x, y < 2^29).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..config import CELL_RES_BITS, MORTON_BITS

# ------------------------------------------------------------- numpy kernels


def cell_xy(lat: np.ndarray, lon: np.ndarray, bits: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << bits
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((lat + 90.0) / 180.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def cell_id(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    bits = CELL_RES_BITS[res]
    x, y = cell_xy(np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64), bits)
    return (np.int64(res) << 58) | (x << 29) | y


def _part1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0xFFFF
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


# _part1by1/_spread_sql spread 16-bit inputs; a wider grid would silently
# alias distant cells (bit 16 masked off), so fail loudly instead
assert MORTON_BITS <= 16, f"morton supports bits <= 16, got {MORTON_BITS}"


def morton(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    x, y = cell_xy(
        np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64), MORTON_BITS
    )
    return (_part1by1(y) << 1) | _part1by1(x)


# ---------------------------------------------------------- Arrow pandas UDFs


def make_cell_udf(res: int):
    @pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(cell_id(lat.to_numpy(dtype="float64"), lon.to_numpy(dtype="float64"), res))

    return _udf


def make_morton_udf():
    @pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(morton(lat.to_numpy(dtype="float64"), lon.to_numpy(dtype="float64")))

    return _udf


# ------------------------------------------------- Spark Column (JVM) variant


def xy_cols(lat: Column, lon: Column, bits: int) -> tuple[Column, Column]:
    n = 1 << bits
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1)).cast("long")
    y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1)).cast("long")
    return x, y


def cell_id_col(lat: Column, lon: Column, res: int) -> Column:
    bits = CELL_RES_BITS[res]
    x, y = xy_cols(lat, lon, bits)
    return (F.lit(res).cast("long") * F.lit(1 << 58).cast("long")) + (
        x * F.lit(1 << 29).cast("long")
    ) + y


# ------------------------------------------------------------- SQL emitters


def x_sql(lon_expr: str, bits: int) -> str:
    n = 1 << bits
    return (
        f"least(greatest(CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(n)}) AS BIGINT), 0), {n - 1})"
    )


def y_sql(lat_expr: str, bits: int) -> str:
    n = 1 << bits
    return (
        f"least(greatest(CAST(floor(({lat_expr} + 90.0) / 180.0 * {float(n)}) AS BIGINT), 0), {n - 1})"
    )


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    bits = CELL_RES_BITS[res]
    return (
        f"(CAST({res} AS BIGINT) * {1 << 58} + {x_sql(lon_expr, bits)} * {1 << 29}"
        f" + {y_sql(lat_expr, bits)})"
    )


def _spread_sql(e: str) -> str:
    s = f"({e} & 65535)"
    for shift, mask in [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]:
        s = f"((({s}) | (({s}) << {shift})) & {mask})"
    return s


def morton_sql(lat_expr: str, lon_expr: str) -> str:
    x = x_sql(lon_expr, MORTON_BITS)
    y = y_sql(lat_expr, MORTON_BITS)
    return f"(({_spread_sql(y)} << 1) | {_spread_sql(x)})"
