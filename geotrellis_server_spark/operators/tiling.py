"""Tile assignment & vector→raster rasterization (SURVEY.md R4/J2 — the
core tile-assignment op, GeoTrellis ``tileToLayout`` +
``SpatialKey`` parity, ogc/.../TiledOgcLayer.scala:97-113).

All key math is Spark SQL floor arithmetic (whole-stage codegen; identical
fragments drive the DuckDB oracle via sqlgen). Rasterization is a
two-phase aggregation: (1) groupBy (tile, pixel) count — partial map-side
aggregation collapses hot cells before any shuffle, so skewed doc
clusters don't skew the exchange; (2) pixel rows → dense cells array via
one Arrow-batched scatter UDF (measured far faster than the "pure JVM"
map+transform alternative, whose map lookups are linear scans).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlgen


def assign_tiles(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return points.withColumn("tile_x", F.expr(sqlgen.tile_x_sql(lon, zoom))).withColumn(
        "tile_y", F.expr(sqlgen.tile_y_sql(lat, zoom))
    )


def tile_counts(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Per-tile document counts at ``zoom`` — the benchmark aggregation."""
    return (
        assign_tiles(points, zoom, lon, lat)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_docs"))
    )


def project_to_epsg(
    points: DataFrame, dst_epsg: int, lon: str = "lon", lat: str = "lat",
    x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """lon/lat → projected (x, y) in any registered CRS, as ONE
    Arrow-batched pandas UDF (the closed-form numpy transforms in
    grids.proj — Karney TM / LAEA / polar stereographic aren't
    SQL-expressible). Emits a struct so the transform runs once per row,
    not once per output column."""
    from ..grids import proj

    # dynamically-registered CRSs (grids/proj4.py) exist only in the
    # driver's registry — ship the entry inside the closure
    snap = proj.registry_snapshot(dst_epsg)

    @F.pandas_udf("x double, y double")
    def _proj(lo: pd.Series, la: pd.Series) -> pd.DataFrame:
        proj.ensure_entries(snap)
        x, y = proj.transform(lo.to_numpy(np.float64), la.to_numpy(np.float64),
                              4326, dst_epsg)
        return pd.DataFrame({"x": x, "y": y})

    out = points.withColumn("_xy", _proj(F.col(lon), F.col(lat)))
    return out.withColumn(x_col, F.col("_xy.x")).withColumn(
        y_col, F.col("_xy.y")
    ).drop("_xy")


def assign_tiles_layout(
    points: DataFrame, layout, x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """SpatialKey assignment over PROJECTED coordinates for an arbitrary
    LayoutDefinition (CrsLayoutScheme levels) — plain floor arithmetic,
    whole-stage codegen, same clamp convention as the WebMercator
    fragments. The projection itself (if needed) happens upstream in
    project_to_epsg; layers already stored in a projected CRS key
    directly."""
    e = layout.extent
    tw, th = layout.tile_width, layout.tile_height
    tx = (
        f"CAST(greatest(least(floor(({x_col} - CAST({e.xmin!r} AS DOUBLE)) / "
        f"CAST({tw!r} AS DOUBLE)), {layout.layout_cols - 1}), 0) AS BIGINT)"
    )
    ty = (
        f"CAST(greatest(least(floor((CAST({e.ymax!r} AS DOUBLE) - {y_col}) / "
        f"CAST({th!r} AS DOUBLE)), {layout.layout_rows - 1}), 0) AS BIGINT)"
    )
    return points.withColumn("tile_x", F.expr(tx)).withColumn("tile_y", F.expr(ty))


def pixel_index_sql(lon: str, lat: str, zoom: int, tile_size: int = 256) -> tuple[str, str, str, str]:
    """(tile_x, tile_y, px, py) SQL fragments. Global pixel grid at zoom z
    is 2^z * tile_size; within-tile pixel = global - tile * tile_size.
    Mirrors GridExtent.mapToGrid floor convention (SURVEY.md §1.1)."""
    gx = sqlgen.tile_x_sql(lon, zoom)  # tile level
    gy = sqlgen.tile_y_sql(lat, zoom)
    n_px = (1 << zoom) * tile_size
    gpx = f"CAST(greatest(least(floor(({sqlgen.mercator_x_sql(lon)}) * {n_px}), {n_px - 1}), 0) AS BIGINT)"
    gpy = f"CAST(greatest(least(floor(({sqlgen.mercator_y_sql(lat)}) * {n_px}), {n_px - 1}), 0) AS BIGINT)"
    px = f"(({gpx}) - ({gx}) * {tile_size})"
    py = f"(({gpy}) - ({gy}) * {tile_size})"
    return gx, gy, px, py


def rasterize_count(
    points: DataFrame, zoom: int, tile_size: int = 256, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Vector→raster: per-tile density grid (docs per pixel) as a dense
    ``cells: array<double>`` row per tile — the raster↔vector map-algebra
    bridge (north rule). Output matches sources.synth.TILE_SCHEMA core
    columns."""
    tx, ty, px, py = pixel_index_sql(lon, lat, zoom, tile_size)
    pix = points.select(
        F.expr(tx).alias("tile_x"),
        F.expr(ty).alias("tile_y"),
        (F.expr(py) * tile_size + F.expr(px)).alias("pixel"),
    )
    per_pixel = pix.groupBy("tile_x", "tile_y", "pixel").agg(F.count("*").alias("cnt"))

    return _densify_tiles(per_pixel, zoom, tile_size)


def _densify_tiles(per_pixel: DataFrame, zoom: int, tile_size: int) -> DataFrame:
    """(tile_x, tile_y, pixel, cnt) → dense cells arrays. Arrow-batched
    scatter — NOT transform(sequence)+element_at(map): Spark map lookup is
    a linear scan, making that JVM-side variant quadratic per tile
    (measured 102s vs 3.5s at 1M docs / 256 tiles)."""
    npix = tile_size * tile_size

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def densify(pixels: pd.Series, cnts: pd.Series) -> pd.Series:
        out = []
        for p, c in zip(pixels, cnts):
            a = np.zeros(npix)
            a[np.asarray(p, dtype=np.int64)] = np.asarray(c, dtype=np.float64)
            out.append(a)
        return pd.Series(out)

    per_tile = per_pixel.groupBy("tile_x", "tile_y").agg(
        F.collect_list("pixel").alias("_ps"), F.collect_list("cnt").alias("_cs")
    )
    return per_tile.select(
        F.lit(zoom).alias("zoom"),
        "tile_x",
        "tile_y",
        F.lit(tile_size).alias("width"),
        F.lit(tile_size).alias("height"),
        densify("_ps", "_cs").alias("cells"),
    )


def rasterize_count_layout(
    points: DataFrame, scheme, zoom: int, x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """rasterize_count over an ARBITRARY CrsLayoutScheme level — the
    custom-CRS pyramid BUILD path (points already projected, e.g. via
    project_to_epsg): global-pixel floor keying in pure SQL, then the
    same two-phase agg + Arrow scatter as the WebMercator variant."""
    lay = scheme.layout(zoom)
    ts = lay.tile_cols
    e = lay.extent
    gw, gh = lay.layout_cols * ts, lay.layout_rows * ts
    cw, ch = lay.cell_width, lay.cell_height
    gx = (
        f"CAST(greatest(least(floor(({x_col} - CAST({e.xmin!r} AS DOUBLE)) / "
        f"CAST({cw!r} AS DOUBLE)), {gw - 1}), 0) AS BIGINT)"
    )
    gy = (
        f"CAST(greatest(least(floor((CAST({e.ymax!r} AS DOUBLE) - {y_col}) / "
        f"CAST({ch!r} AS DOUBLE)), {gh - 1}), 0) AS BIGINT)"
    )
    pix = points.select(
        F.expr(f"({gx}) DIV {ts}").alias("tile_x"),
        F.expr(f"({gy}) DIV {ts}").alias("tile_y"),
        F.expr(f"(({gy}) % {ts}) * {ts} + (({gx}) % {ts})").alias("pixel"),
    )
    per_pixel = pix.groupBy("tile_x", "tile_y", "pixel").agg(F.count("*").alias("cnt"))
    return _densify_tiles(per_pixel, zoom, ts)


# Arrow ``list`` offsets are int32: one list column of a batch holds
# fewer than 2^31 values.
_MAX_LIST_VALUES = (1 << 31) - 1


def pyramid_up(tiles: DataFrame, agg: str = "sum", fill: float = 0.0) -> DataFrame:
    """Pyramid rollup: build zoom z-1 tiles from zoom z by 2×2 pixel
    aggregation — GeoTrellis ``Pyramid.up`` (spark/.../pyramid/
    Pyramid.scala). Two Arrow kernels around ONE shuffle on the parent key:

    1. a ``mapInArrow`` kernel downsamples each child tile to a
       quarter-size quadrant with numpy slices, ``agg`` = 'sum' (counts:
       parent pixel = sum of its 4 children, so rolling up a density
       raster EQUALS rasterizing at z-1 directly — the oracle contract) |
       'mean' (continuous data — the GDAL-average overview recipe) |
       'max'. sum/mean accumulate ((TL + TR) + BL) + BR element-wise and
       max is NaN-propagating (Spark ``greatest`` order), so the doubles
       are bit-identical to the SQL form the tests keep as a witness;
    2. the 4 quadrants group to the parent key with the any_value(when())
       pivot of the focal halo (operators/focal.py) — the natural
       partitioning for writing the next level — and a second
       ``mapInArrow`` kernel assembles the parent by block assignment.

    Why not Spark's higher-order array functions (transform/slice/
    flatten): they never enter whole-stage codegen and run on the
    interpreted expression evaluator, whose JIT-compiled speed depends
    on which OTHER queries ran first in the session (measured: the same
    pyramid query ran 0.8 s with a clean profile and a persistent 2-5 s
    after other HOF-heavy operators — every suite run, in practice).
    numpy is immune to that hazard and equally fast on the clean profile.

    Missing children fill with ``fill`` (0 for count layers; NaN keeps
    NoData for continuous layers). Parent keys use floor division, so
    negative tile coordinates (custom-CRS layouts) roll up correctly.
    Every input tile must share one even (width, height) and carry a
    non-NULL ``cells`` of width·height values; anything else raises
    ValueError. Output (zoom, tile_x, tile_y, width, height, cells): zoom,
    width and height keep their input types, the keys are bigint; one
    tile of the same size per parent key. Iterating z..1 materializes
    the whole pyramid in log2 rounds, each a narrow shuffle of
    quarter-size quadrants (¼ the naive volume of re-keying raw points
    per level)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if agg not in ("sum", "mean", "max"):
        raise ValueError("agg must be one of ['max', 'mean', 'sum']")
    limit = _MAX_LIST_VALUES  # bound read on the driver, shipped to the kernels

    def down_kernel(batches):
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            w, h = _tile_size(b.column("width"), b.column("height"))
            valid, cells = _list_rows(b.column("cells"), h * w)
            if not valid.all():
                raise ValueError("pyramid_up: NULL cells row")
            cells = cells.reshape(n, h, w)
            a = cells[:, 0::2, 0::2]
            bb = cells[:, 0::2, 1::2]
            c = cells[:, 1::2, 0::2]
            d = cells[:, 1::2, 1::2]
            if agg == "sum":
                q = ((a + bb) + c) + d
            elif agg == "mean":
                q = (((a + bb) + c) + d) / 4.0
            else:
                q = np.maximum(np.maximum(np.maximum(a, bb), c), d)
            tx = np.asarray(b.column("tile_x"))
            ty = np.asarray(b.column("tile_y"))
            yield pa.record_batch(
                [pa.array(np.asarray(b.column("zoom")) - 1),
                 pa.array((tx - np.mod(tx, 2)) // 2),
                 pa.array((ty - np.mod(ty, 2)) // 2),
                 pa.array(np.mod(tx, 2).astype(np.int32)),
                 pa.array(np.mod(ty, 2).astype(np.int32)),
                 pa.array(np.full(n, w, np.int32)),
                 pa.array(np.full(n, h, np.int32)),
                 _list_col(q.reshape(n, -1), limit)],
                names=["zoom", "tile_x", "tile_y", "qx", "qy",
                       "width", "height", "qcells"])

    quad_schema = T.StructType([
        T.StructField("zoom", T.LongType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("qx", T.IntegerType()),
        T.StructField("qy", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("qcells", T.ArrayType(T.DoubleType())),
    ])
    quads = tiles.select(
        F.col("zoom").cast("long").alias("zoom"),
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "cells",
    ).mapInArrow(down_kernel, quad_schema)

    def pick(qx: int, qy: int) -> F.Column:
        return F.any_value(
            F.when((F.col("qx") == qx) & (F.col("qy") == qy),
                   F.col("qcells")), True).alias(f"q_{qx}{qy}")

    # min AND max of the child sizes: children of one parent may come
    # from different batches, so only the group sees a size mix
    per_parent = quads.groupBy("zoom", "tile_x", "tile_y").agg(
        pick(0, 0), pick(1, 0), pick(0, 1), pick(1, 1),
        F.min("width").alias("width"), F.max("width").alias("w_max"),
        F.min("height").alias("height"), F.max("height").alias("h_max"),
    )

    src = {f.name: f.dataType for f in tiles.schema.fields}
    out_schema = T.StructType([
        T.StructField("zoom", src["zoom"]),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("width", src["width"]),
        T.StructField("height", src["height"]),
        T.StructField("cells", T.ArrayType(T.DoubleType())),
    ])
    arrow_schema = to_arrow_schema(out_schema)

    def asm_kernel(batches):
        for b in batches:
            nrow = b.num_rows
            if not nrow:
                continue
            w, h = _tile_size(
                pa.concat_arrays([b.column("width"), b.column("w_max")]),
                pa.concat_arrays([b.column("height"), b.column("h_max")]))
            h2, w2 = h // 2, w // 2
            out = np.empty((nrow, h, w), dtype=np.float64)
            views = {"00": (slice(None, h2), slice(None, w2)),
                     "10": (slice(None, h2), slice(w2, None)),
                     "01": (slice(h2, None), slice(None, w2)),
                     "11": (slice(h2, None), slice(w2, None))}
            for k, (rs, cs) in views.items():
                valid, q = _list_rows(b.column(f"q_{k}"), h2 * w2)
                out[~valid, rs, cs] = fill
                out[valid, rs, cs] = q.reshape(-1, h2, w2)
            cols = [b.column("zoom"), b.column("tile_x"), b.column("tile_y"),
                    pa.array(np.full(nrow, w)), pa.array(np.full(nrow, h)),
                    _list_col(out.reshape(nrow, -1), limit)]
            yield pa.record_batch(
                [c.cast(f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema)

    return per_parent.mapInArrow(asm_kernel, out_schema)


def _tile_size(widths, heights) -> tuple[int, int]:
    """The one even (width, height) every row of an Arrow batch shares.
    The kernels reshape whole batches, so a NULL, mixed (4×4 next to
    2×8) or odd size raises instead of scrambling cells."""
    if widths.null_count or heights.null_count:
        raise ValueError("pyramid_up: NULL width/height")
    w, h = np.asarray(widths), np.asarray(heights)
    if (w != w[0]).any() or (h != h[0]).any():
        sizes = sorted(set(zip(w.tolist(), h.tolist())))
        raise ValueError(
            f"pyramid_up requires one width/height for all tiles, got {sizes}")
    if w[0] % 2 or h[0] % 2:
        raise ValueError("pyramid_up requires even tile size")
    return int(w[0]), int(h[0])


def _list_rows(col, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid, values) of an Arrow list<double> column: ``valid`` flags
    the non-NULL rows, ``values`` is their (valid.sum(), k) float64
    block. Read through the offsets from the raw buffers, so NaN elements
    stay NaN (a pandas round-trip would turn them into nulls). Raises
    unless every non-NULL row holds exactly k values."""
    valid = ~np.asarray(col.is_null())
    offs = np.asarray(col.offsets, dtype=np.int64)
    starts = offs[:-1][valid]
    if (offs[1:][valid] - starts != k).any():
        raise ValueError(f"pyramid_up: every cells row must hold width*height = {k} values")
    vals = np.asarray(col.values, dtype=np.float64)
    if offs[-1] - offs[0] == len(starts) * k:  # NULL rows empty: one block
        return valid, vals[offs[0]:offs[-1]].reshape(-1, k)
    return valid, np.array([vals[s:s + k] for s in starts],
                           dtype=np.float64).reshape(-1, k)


def _list_col(arr2d: np.ndarray, limit: int):
    """numpy (n, k) float64 -> Arrow list<double> rows, NaN-preserving.
    The offsets are computed in int64 and must fit the list type's int32."""
    import pyarrow as pa

    n, k = arr2d.shape
    if n * k > limit:
        raise ValueError(
            f"pyramid_up: a batch of {n} tiles x {k} cells exceeds the "
            f"{limit}-value Arrow list limit; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    offsets = np.arange(n + 1, dtype=np.int64) * k
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)),
        pa.array(arr2d.reshape(-1), type=pa.float64()))


def write_pyramid(
    points: DataFrame, path: str, max_zoom: int, tile_size: int = 256,
    lon: str = "lon", lat: str = "lat",
) -> None:
    """Materialize a full tile pyramid: rasterize ONCE at ``max_zoom``,
    roll up level by level with ``pyramid_up`` (each level is a narrow
    2×2 aggregation of the previous — points are never re-keyed per
    level), and write every level into one parquet layout PARTITIONED BY
    zoom. Serving a (z, x, y) request is then partition pruning on
    ``zoom`` plus a tile-key range filter — the GeoTrellis layer-write
    analog (Pyramid.scala + LayerWriter) on a plain columnar layout.

    Each rollup reads the level just WRITTEN (partition-pruned parquet),
    not the in-memory lineage — otherwise every level's write action
    would re-execute the full rasterize + all prior rollups and an
    L-level pyramid would cost ~L rasterizations."""
    spark = points.sparkSession
    level = rasterize_count(points, max_zoom, tile_size, lon, lat)
    level.write.mode("overwrite").partitionBy("zoom").parquet(path)
    for z in range(max_zoom, 0, -1):
        level = pyramid_up(read_pyramid_level(spark, path, z), agg="sum")
        level.write.mode("append").partitionBy("zoom").parquet(path)


def read_pyramid_level(spark, path: str, zoom: int) -> DataFrame:
    """Read one pyramid level — the ``zoom`` filter is pruned at
    planning time (PartitionFilters), so only that level's files are
    touched."""
    return spark.read.parquet(path).where(F.col("zoom") == zoom)
