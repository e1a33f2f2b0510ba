"""MAML evaluation over tile DataFrames — the engine's LayerExtent /
LayerTms analog (core/.../LayerExtent.scala:46-66, LayerTms.scala:50-80).

- ``eval_local``: n-way equi-join of the expression's raster vars on the
  tile key (SURVEY.md J4: multi-var param alignment, e.g. red × nir for
  NDVI) then ONE Arrow-batched pandas UDF applying the fused numpy kernel
  to the whole batch at once (cells stacked to a (batch, npix) matrix —
  never per-row Python).
- ``eval_focal``: single-var expressions containing focal ops; tiles are
  padded via the halo join (operators/focal.py — the reference's 3×3
  neighborhood read, GTLayerNode.scala:88-130) and the kernel consumes the
  pad.
- ``eval_tile``: one output tile evaluated on the driver from collected
  ≤9-tile neighbourhoods — the request path; the DataFrame paths above
  are its equality witness in the tests.

Tile DataFrame contract: columns (zoom, tile_x, tile_y, width, height,
cells: array<double>); NaN = NoData.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ast import Expr, FOCAL_OPS
from .kernels import compile_node, fold_constants

KEY = ["zoom", "tile_x", "tile_y"]


def _has_focal(e: Expr) -> bool:
    return e.symbol in FOCAL_OPS or any(_has_focal(a) for a in e.args)


def _has_geom(e: Expr) -> bool:
    return e.symbol == "geomLit" or any(_has_geom(a) for a in e.args)


def eval_expr(expr: Expr, params: dict[str, DataFrame]) -> DataFrame:
    """Dispatch: local-only → joined batch kernel; focal → halo path.

    mask-by-geometry: in the LOCAL path the geometry rasterizes inside
    the fused kernel from the batch's tile keys (zero extra shuffle); in
    the FOCAL path it is rewritten to a synthetic raster var first so the
    mask participates in halo padding like any input."""
    expr = fold_constants(expr)
    if _has_focal(expr):
        expr, params = _bind_geom_masks(expr, params)
        return eval_focal(expr, params)
    return eval_local(expr, params)


def _geom_mask_vars(expr: Expr, bound) -> tuple[Expr, dict[str, tuple[str, tuple]]]:
    """Rewrite ``mask(x, geomLit)`` → ``mask(x, rasterV(__geom_mask_N))``
    and return {synthetic name: (grid var, ring)}. The mask grid is the
    first bound var inside x (all vars share the tile key space — J4
    alignment); the mask tile exists wherever that var has a tile."""
    masks: dict[str, tuple[str, tuple]] = {}

    def f(e: Expr) -> Expr:
        if e.symbol == "mask" and len(e.args) == 2 and e.args[1].symbol == "geomLit":
            sub_vars = sorted(n for n in e.args[0].var_names() if n in bound)
            if not sub_vars:
                raise ValueError(
                    "mask-by-geometry needs at least one bound raster var in "
                    "the masked expression to define the tile grid"
                )
            name = f"__geom_mask_{len(masks)}"
            masks[name] = (sub_vars[0], e.args[1].p("ring"))
            return Expr("mask", (e.args[0], Expr.var(name)))
        return e

    return expr.transform(f), masks


def _bind_geom_masks(expr: Expr, params: dict[str, DataFrame]):
    """``_geom_mask_vars`` with each mask bound to a rasterized mask-tile
    table (geometry/rasterize.py) under its synthetic name."""
    from ..geometry.rasterize import ring_mask_tiles

    expr, masks = _geom_mask_vars(expr, params)
    params = dict(params)
    for name, (grid, ring) in masks.items():
        params[name] = ring_mask_tiles(params[grid], ring)
    return expr, params


def _check_bound(names: list[str], bound) -> None:
    if not names:
        # constant expression (e.g. fully folded scalar): there is no tile
        # grid to broadcast it over — reference MAML likewise needs at
        # least one bound raster (Vars) to define the output grid.
        raise ValueError(
            "MAML expression has no raster vars after constant folding; "
            "bind at least one raster var to define the output tile grid"
        )
    missing = [n for n in names if n not in bound]
    if missing:
        raise KeyError(f"unbound MAML vars: {missing}")


def eval_local(expr: Expr, params: dict[str, DataFrame]) -> DataFrame:
    names = sorted(expr.var_names())
    _check_bound(names, params)
    kernel = compile_node(expr)

    # band participates in the alignment key when every input is
    # multiband-aware (TILE_SCHEMA) — otherwise band 0 of one var would
    # join band 1 of another (many-to-many duplication)
    key = list(KEY)
    if all("band" in params[n].columns for n in names):
        key = KEY + ["band"]

    dfs = []
    for n in names:
        dfs.append(
            params[n].select(*key, F.col("width"), F.col("height"), F.col("cells").alias(f"__c_{n}"))
        )
    joined = reduce(
        lambda a, b: a.join(b.drop("width", "height"), key, "inner"), dfs[1:], dfs[0]
    )

    cell_cols = [f"__c_{n}" for n in names]
    needs_keys = _has_geom(expr)  # geomLit rasterizes from tile keys
    key_cols = ["zoom", "tile_x", "tile_y", "width", "height"] if needs_keys else []

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def apply_kernel(*cols: pd.Series) -> pd.Series:
        kc = cols[: len(key_cols)]
        cc = cols[len(key_cols):]
        env = {n: np.stack(c.to_numpy()) for n, c in zip(names, cc)}
        first_shape = env[names[0]].shape
        env["__rowwise__"] = True  # (batch, npix): one tile per row
        if needs_keys:
            env["__keys__"] = tuple(c.to_numpy() for c in kc)
        out = kernel(env)
        out = np.broadcast_to(out, first_shape) if np.isscalar(out) else out
        return pd.Series(list(np.asarray(out, dtype=np.float64)))

    return joined.select(
        *key,
        "width",
        "height",
        apply_kernel(
            *[F.col(c) for c in key_cols], *[F.col(c) for c in cell_cols]
        ).alias("cells"),
    )


def eval_focal(expr: Expr, params: dict[str, DataFrame]) -> DataFrame:
    """Focal (and mixed focal/local) expressions over one or MORE raster
    vars: each var is halo-padded by ITS OWN required buffer
    (Vars.varsWithBuffer — reference LayerTms.scala:66-74), the padded
    frames are equi-joined on the tile key (J4 alignment), and the fused
    kernel consumes the pads (local sub-ops crop operands to the common
    pad; focal ops consume their radius)."""
    from ..operators.focal import with_halo

    names = sorted(expr.var_names())
    bufs = expr.vars_with_buffer()
    kernel = compile_node(expr)

    key = list(KEY)
    if all("band" in params[n].columns for n in names):
        key = KEY + ["band"]

    buf_of = {n: int(bufs.get(n, 0)) for n in names}
    from ..operators.focal import STRIP_COLS

    # per-var column layout in the kernel UDF: 1 column (cells) for an
    # unbuffered var, 9 columns (body + 8 raw strips) for a buffered one.
    # Halo-padded blocks are assembled with numpy BLOCK ASSIGNMENT inside
    # the UDF we were already paying for — a JVM concat/slice build of
    # the padded array was ~60% of the halo step's cost, and NULL strips
    # become NaN pads for free.
    dfs, var_ncols = [], []
    for i, n in enumerate(names):
        b = buf_of[n]
        if b <= 0:
            picked = params[n].select(
                *key, F.col("cells").alias(f"__c_{n}"),
                *([F.col("width"), F.col("height")] if i == 0 else []))
            var_ncols.append(1)
        else:
            raw = with_halo(params[n], b)
            picked = raw.select(
                *key, F.col("s_c").alias(f"__c_{n}"),
                *[F.col(s).alias(f"__{n}_{s}") for s in STRIP_COLS],
                *([F.col("width"), F.col("height")] if i == 0 else []))
            var_ncols.append(9)
        dfs.append(picked)
    joined = reduce(lambda a, b: a.join(b, key, "inner"), dfs[1:], dfs[0])

    pad_env = dict(buf_of)

    def _assemble(w: int, h: int, b: int, body, strips) -> np.ndarray:
        """(h+2b, w+2b) padded block from the row-major body + 8 strips
        (corners (b,b), n/s (b,w), w/e (h,b)); None strip = NaN pad."""
        p = np.full((h + 2 * b, w + 2 * b), np.nan, dtype=np.float64)
        p[b:b + h, b:b + w] = np.asarray(body, dtype=np.float64).reshape(h, w)
        nw, nn, ne, ww, ee, sw, ss, se = strips
        spots = (
            (nw, (slice(0, b), slice(0, b)), (b, b)),
            (nn, (slice(0, b), slice(b, b + w)), (b, w)),
            (ne, (slice(0, b), slice(b + w, None)), (b, b)),
            (ww, (slice(b, b + h), slice(0, b)), (h, b)),
            (ee, (slice(b, b + h), slice(b + w, None)), (h, b)),
            (sw, (slice(b + h, None), slice(0, b)), (b, b)),
            (ss, (slice(b + h, None), slice(b, b + w)), (b, w)),
            (se, (slice(b + h, None), slice(b + w, None)), (b, b)),
        )
        for strip, where, shape in spots:
            if strip is not None:
                p[where] = np.asarray(strip, dtype=np.float64).reshape(shape)
        return p

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def apply_kernel(width: pd.Series, height: pd.Series, *cols: pd.Series) -> pd.Series:
        out = []
        col_vals = [c.to_numpy() for c in cols]  # zip, not per-row .iloc
        for w, h, *row in zip(width.to_numpy(), height.to_numpy(), *col_vals):
            w, h = int(w), int(h)
            env = {"__pad__": pad_env}
            j = 0
            for n, nc in zip(names, var_ncols):
                b = pad_env[n]
                if nc == 1:
                    env[n] = np.asarray(row[j], dtype=np.float64).reshape(h, w)
                else:
                    env[n] = _assemble(w, h, b, row[j], row[j + 1:j + 9])
                j += nc
            out.append(np.asarray(kernel(env), dtype=np.float64).ravel())
        return pd.Series(out)

    kernel_cols = []
    for n, nc in zip(names, var_ncols):
        kernel_cols.append(F.col(f"__c_{n}"))
        if nc == 9:
            kernel_cols += [F.col(f"__{n}_{s}") for s in STRIP_COLS]
    return joined.select(
        *key,
        "width",
        "height",
        apply_kernel(F.col("width"), F.col("height"), *kernel_cols).alias("cells"),
    )


def eval_tile(expr: Expr, params: dict[str, DataFrame], z: int, x: int, y: int):
    """``eval_expr(expr, params)`` restricted to the ONE tile (z, x, y) and
    evaluated on the driver — the request path (Engine.get_tile_png).

    Each source table is read with one JVM-only collect: the centre tile
    for a var no focal op buffers, the ≤9 tiles of x±1 × y±1 for a
    buffered one. The same compiled kernel then runs on the env
    conventions of the UDFs above:

    - local: (1, npix) rows with ``__rowwise__``, plus ``__keys__`` for a
      geomLit (eval_local);
    - focal: each var as a (h+2b, w+2b) block cut from the 3×3 mosaic of
      its neighbourhood, NaN where a neighbour is missing (eval_focal);
      a ``mask(x, geomLit)`` is a mask var rasterized per tile its grid
      var has, as ``_bind_geom_masks`` binds it.

    Band: when every var carries ``band`` they align on it, as the eval_*
    join keys do, and the tile is the LOWEST band every var has at the
    centre; otherwise each banded var contributes its own lowest centre
    band.

    Returns (cells (h*w,) float64, width, height), or None when some var
    has no tile at (z, x, y) (the DataFrame path's inner join is empty).
    Raises ValueError when a tile of the neighbourhood is not the centre
    tile's width × height, or a focal buffer exceeds min(width, height):
    the 3×3 read supplies one ring of neighbour tiles."""
    from ..geometry.rasterize import ring_mask_block

    expr = fold_constants(expr)
    focal = _has_focal(expr)
    masks: dict[str, tuple[str, tuple]] = {}
    if focal:
        expr, masks = _geom_mask_vars(expr, params)
    names = sorted(expr.var_names())
    _check_bound(names, set(params) | set(masks))
    bufs = expr.vars_with_buffer() if focal else {}
    buf_of = {n: int(bufs.get(n, 0)) for n in names}
    src = {n: masks[n][0] if n in masks else n for n in names}
    rings = {n: [tuple(map(float, p)) for p in ring] for n, (_, ring) in masks.items()}
    reach: dict[str, int] = {}  # 1: the var's 3x3 neighbourhood, 0: its centre tile
    for n in names:
        reach[src[n]] = max(reach.get(src[n], 0), int(buf_of[n] > 0))

    # {source: {band: {(dx, dy): (width, height, cells)}}}, band None if unbanded
    banded, by_band = {}, {}
    for s, r in reach.items():
        df = params[s]
        banded[s] = "band" in df.columns
        got = (
            df.filter((F.col("zoom") == z)
                      & F.col("tile_x").between(x - r, x + r)
                      & F.col("tile_y").between(y - r, y + r))
            .select("tile_x", "tile_y", *(["band"] if banded[s] else []),
                    "width", "height", "cells")
            .toArrow()  # Arrow batches straight from the JVM: no Row objects
        )
        col = {c: got.column(c).to_pylist() for c in got.column_names if c != "cells"}
        bands = col["band"] if banded[s] else [None] * got.num_rows
        cells = got.column("cells")
        by_band[s] = {}
        for i, b in enumerate(bands):
            by_band[s].setdefault(b, {})[(col["tile_x"][i] - x, col["tile_y"][i] - y)] = (
                col["width"][i], col["height"][i], cells[i].values)

    centre = {s: {b for b, ts in g.items() if (0, 0) in ts} for s, g in by_band.items()}
    if all(banded.values()):
        common = set.intersection(*centre.values())
        if not common:
            return None
        band = dict.fromkeys(by_band, min(common))
    elif all(centre.values()):
        band = {s: min(c) if banded[s] else None for s, c in centre.items()}
    else:
        return None
    tiles = {s: by_band[s][band[s]] for s in by_band}

    w, h, _ = tiles[src[names[0]]][(0, 0)]
    for s, ts in tiles.items():
        for (dx, dy), (tw, th, _) in ts.items():
            if (tw, th) != (w, h):
                raise ValueError(
                    f"tile ({z}, {x + dx}, {y + dy}) of var {s!r} is "
                    f"{tw}x{th}; the centre tile is {w}x{h}"
                )
    if max(buf_of.values()) > min(w, h):
        raise ValueError(
            f"focal buffer {max(buf_of.values())} exceeds min(width, height) = "
            f"{min(w, h)}: the 3x3 neighbourhood supplies one ring of tiles"
        )

    def block(n: str, dx: int, dy: int) -> np.ndarray | None:
        t = tiles[src[n]].get((dx, dy))
        if t is None:
            return None
        if n in masks:
            return ring_mask_block(rings[n], z, x + dx, y + dy, w, h)
        # a writable copy; NULL cells come out as NaN, the NoData convention
        return np.array(t[2].to_numpy(zero_copy_only=False), dtype=np.float64).reshape(h, w)

    kernel = compile_node(expr)
    if not focal:
        env = {n: block(n, 0, 0).reshape(1, w * h) for n in names}
        env["__rowwise__"] = True
        if _has_geom(expr):
            env["__keys__"] = tuple(np.array([v]) for v in (z, x, y, w, h))
        out = kernel(env)
        out = np.broadcast_to(out, (1, w * h)) if np.isscalar(out) else out
        return np.asarray(out, dtype=np.float64)[0], w, h

    env = {"__pad__": buf_of}
    for n in names:
        b = buf_of[n]
        if b == 0:
            env[n] = block(n, 0, 0)
            continue
        mosaic = np.full((3 * h, 3 * w), np.nan)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                c = block(n, dx, dy)
                if c is not None:
                    mosaic[(dy + 1) * h:(dy + 2) * h, (dx + 1) * w:(dx + 2) * w] = c
        # a contiguous copy: the same memory layout eval_focal's blocks have
        env[n] = mosaic[h - b:2 * h + b, w - b:2 * w + b].copy()
    return np.asarray(kernel(env), dtype=np.float64).ravel(), w, h


def crop_to_extent(
    tiles: DataFrame,
    extent: tuple[float, float, float, float],
    layout_extent_for,
) -> DataFrame:
    """R6 crop: keep tiles intersecting the window; edge tiles get cells
    outside the window set to NaN (reference crops to
    RasterExtent(extent).gridBoundsFor, LayerExtent.scala:63-65). The
    window is expressed in the tiles' own CRS coordinates.

    ``layout_extent_for``: fn(zoom, tx, ty) -> Extent of the tile."""
    xmin, ymin, xmax, ymax = extent

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def crop(cells, w_s, h_s, zoom_s, tx_s, ty_s):
        out = []
        for c, w, h, z, tx, ty in zip(cells, w_s, h_s, zoom_s, tx_s, ty_s):
            te = layout_extent_for(int(z), int(tx), int(ty))
            a = np.asarray(c, dtype=np.float64).reshape(h, w)
            cw = (te.xmax - te.xmin) / w
            ch = (te.ymax - te.ymin) / h
            cols = np.arange(w) * cw + te.xmin + cw / 2  # cell centers
            rows = te.ymax - (np.arange(h) * ch + ch / 2)
            keep = (
                (cols >= xmin)[None, :]
                & (cols <= xmax)[None, :]
                & (rows >= ymin)[:, None]
                & (rows <= ymax)[:, None]
            )
            out.append(np.where(keep, a, np.nan).ravel())
        return pd.Series(out)

    return tiles.withColumn(
        "cells", crop("cells", "width", "height", "zoom", "tile_x", "tile_y")
    )
