"""Broadcast-grid point-in-polygon join — the engine's J1 (SURVEY.md §2.6).

Reference pattern: request bbox × layer catalog Intersects test, a nested
loop over an in-memory list (ogc/.../OgcSourceRepository.scala:60,
core/.../query/RasterSourceRepository.scala:58). At 10^12-doc scale this
becomes the headline join; the Spark-first design is:

1. Cover each zone's envelope with coarse quadtree cells (driver-side —
   the zone side is small/broadcastable by definition).
2. Equi-join ``points.cell == zone_cells.cell`` with an explicit
   ``broadcast()`` hint → BroadcastHashJoin, ZERO shuffle of the big side.
3. Exact predicate: for rectangles, pure SQL comparisons (codegen); for
   general polygons, the Arrow-vectorized ray-cast kernel.

Scale notes: the big side is never shuffled or skew-sensitive here
(broadcast join); hot cells only matter for downstream per-key aggs, where
partial aggregation + AQE handle them (operators/skew.py adds explicit
salting for per-group UDF paths).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry.pip import envelope_cells, points_in_ring
from ..grids import cells as C

# Cell-cover prefilter resolution. Res 4 cells (22.5° wide) straddle the
# 36°×17° zone rectangles so often that the broadcast join emitted ~2.5
# candidate rows per point (measured 13.4M candidates for 4M docs) that
# the exact bounds filter then discarded; res 6 cells (5.6°) cut that to
# 1.5× (5.9M) while the broadcast cover stays trivial (5.3k rows for the
# 100-zone grid). Rule: prefilter cells ≲ zone_extent/4 — the cover table
# grows O((zone/cell)²) per zone but stays metadata-sized, and the
# candidate stream (the thing proportional to the CORPUS) shrinks.
# Results are unchanged: the exact predicate runs either way.
DEFAULT_PREFILTER_RES = 6


def _zone_cells_df(zones_pdf: pd.DataFrame, res: int, spark, with_bounds: bool = False) -> DataFrame:
    rows = []
    for r in zones_pdf.itertuples(index=False):
        for c in envelope_cells(r.xmin, r.ymin, r.xmax, r.ymax, res):
            if with_bounds:
                rows.append((int(r.zone_id), int(c), r.xmin, r.ymin, r.xmax, r.ymax))
            else:
                rows.append((int(r.zone_id), int(c)))
    fields = [T.StructField("zone_id", T.LongType()), T.StructField("cell", T.LongType())]
    if with_bounds:
        fields += [T.StructField(n, T.DoubleType()) for n in ("xmin", "ymin", "xmax", "ymax")]
    return spark.createDataFrame(rows, T.StructType(fields))


def build_rect_zone_cells(zones: DataFrame, res: int = DEFAULT_PREFILTER_RES) -> DataFrame:
    """Precompute the broadcast side (zone cell cover + bounds) once per
    job — at 10^12-doc scale the grid build is a fixed driver-side cost
    amortized over the whole run."""
    zones_pdf = zones.select("zone_id", "xmin", "ymin", "xmax", "ymax").toPandas()
    return _zone_cells_df(zones_pdf, res, zones.sparkSession, with_bounds=True)


def pip_join_rect(
    points: DataFrame,
    zones: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_PREFILTER_RES,
    zone_cells: DataFrame | None = None,
) -> DataFrame:
    """Points × rectangular zones, half-open: a point joins a zone when
    it lies in [xmin, xmax) × [ymin, ymax), so a tiling grid of zones
    partitions the points uniquely (a point on a shared edge belongs to
    the zone east / north of it). ``zone_cells`` is a prebuilt
    ``build_rect_zone_cells(zones, res)`` cover."""
    # bounds ride along in the broadcast cell-cover table → ONE broadcast
    # hash join total, big side untouched
    zc = zone_cells if zone_cells is not None else build_rect_zone_cells(zones, res)
    pts = points.withColumn("cell", C.cell_key_col(lon, lat, res))
    cand = pts.join(F.broadcast(zc), "cell", "inner")
    pred = (
        (F.col(lon) >= F.col("xmin"))
        & (F.col(lon) < F.col("xmax"))
        & (F.col(lat) >= F.col("ymin"))
        & (F.col(lat) < F.col("ymax"))
    )
    return cand.filter(pred).drop("cell", "xmin", "ymin", "xmax", "ymax")


def pip_join_poly(
    points: DataFrame,
    poly_zones: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_PREFILTER_RES,
) -> DataFrame:
    """Points × arbitrary polygons (covers semantics — boundary counts in,
    matching the reference's Contains≡covers quirk,
    RasterSourceRepository.scala:60). Polygon rings ride the broadcast via
    a task closure; exact test is the vectorized ray-cast kernel grouped by
    zone inside each Arrow batch."""
    spark = points.sparkSession
    zpdf = poly_zones.select("zone_id", "ring", "xmin", "ymin", "xmax", "ymax").toPandas()
    rings = {int(r.zone_id): [tuple(p) for p in r.ring] for r in zpdf.itertuples(index=False)}
    zc = _zone_cells_df(zpdf, res, spark)

    pts = points.withColumn("cell", C.cell_key_col(lon, lat, res))
    cand = pts.join(F.broadcast(zc), "cell", "inner").drop("cell")

    @F.pandas_udf(T.BooleanType())
    def covers(lon_s: pd.Series, lat_s: pd.Series, zid_s: pd.Series) -> pd.Series:
        import numpy as np

        out = np.zeros(len(lon_s), dtype=bool)
        lon_v = lon_s.to_numpy()
        lat_v = lat_s.to_numpy()
        zid_v = zid_s.to_numpy()
        for z in pd.unique(zid_s):
            m = zid_v == z
            out[m] = points_in_ring(lon_v[m], lat_v[m], rings[int(z)])
        return pd.Series(out)

    return cand.filter(covers(F.col(lon), F.col(lat), F.col("zone_id")))
