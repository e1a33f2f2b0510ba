"""Quadtree cell index over WebMercator — the engine's H3/S2 equivalent.

h3-py is unavailable in this environment, so the engine ships its own
deterministic cell scheme: a cell at resolution ``r`` is the WebMercator
tile (r, cx, cy), packed as ``cell = cx * 2^r + cy`` (bigint, unique within
a resolution). This supports everything the north rule needs from H3:

- point → cell encoding (pure SQL floor math → whole-stage codegen),
- ``grid_disk(cell, k)``: all cells within Chebyshev ring k (kNN ring
  expansion, SURVEY.md J6),
- prefix coarsening: parent at res r-1 is (cx>>1, cy>>1) — used for
  range-partitioning shuffles by cell prefix (north rule).

An optional real-H3 backend can be slotted in behind the same API when
h3-py is present (import-try below).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import sqlgen
from .layout import tile_key_np

try:  # pragma: no cover - h3 not present in this environment
    import h3  # noqa: F401

    HAS_H3 = True
except ImportError:
    HAS_H3 = False


def cell_key_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    tx, ty = tile_key_np(lon, lat, res)
    return tx * (1 << res) + ty


def cell_xy(cell: int, res: int) -> tuple[int, int]:
    n = 1 << res
    return int(cell) // n, int(cell) % n


def cell_parent(cell: int, res: int, parent_res: int) -> int:
    cx, cy = cell_xy(cell, res)
    shift = res - parent_res
    return (cx >> shift) * (1 << parent_res) + (cy >> shift)


def grid_disk(cell: int, res: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (the (2k+1)² square block),
    clipped at the antimeridian-free world edge. Equivalent role to h3
    ``grid_disk`` in the reference's kNN mapping (SURVEY.md J6)."""
    n = 1 << res
    cx, cy = cell_xy(cell, res)
    out = []
    for dx in range(-k, k + 1):
        x = cx + dx
        if x < 0 or x >= n:
            continue
        for dy in range(-k, k + 1):
            y = cy + dy
            if 0 <= y < n:
                out.append(x * n + y)
    return out


# --- Spark column builders (delegate to sqlgen so oracle SQL matches) ------


def cell_key_col(lon_col: str, lat_col: str, res: int) -> Column:
    return F.expr(sqlgen.cell_key_sql(lon_col, lat_col, res))
