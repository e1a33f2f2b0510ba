"""Pure-SQL equality witnesses for operators whose library form is an
Arrow kernel. Each builds the same result with Spark's JVM expression
engine only, so a test can compare the two bit for bit.

tests/ has no __init__.py: pytest puts this directory on sys.path, so
test modules import it as ``from witnesses import ...``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_server_spark.operators.trajectory import _dda_coord_sql, _hops


def pyramid_up_sql(tiles: DataFrame, agg: str = "sum", fill: float = 0.0) -> DataFrame:
    """``tiling.pyramid_up`` as SQL (the shape the gate oracle mirrors):

    1. each child tile downsamples to a quarter-size quadrant with
       ``transform(sequence)`` + O(1) array indexing;
    2. the 4 quadrants group to the parent key and assemble via the
       any_value(when()) pivot + slice/concat.

    Same FP order as the kernels: ``a + b + c + d`` evaluates left to
    right and ``greatest`` treats NaN as larger than every value."""
    ops = {
        "sum": lambda a, b, c, d: f"{a} + {b} + {c} + {d}",
        "mean": lambda a, b, c, d: f"({a} + {b} + {c} + {d}) / 4.0",
        "max": lambda a, b, c, d: f"greatest({a}, {b}, {c}, {d})",
    }

    # step 1: child tile -> (parent key, quadrant position, q*q cells)
    # quadrant pixel (r, c) aggregates child pixels (2r, 2c)..(2r+1, 2c+1)
    def child(dr: int, dc: int) -> str:
        return (
            f"element_at(cells, CAST((i DIV (width DIV 2)) * 2 * width"
            f" + ({dr}) * width"
            f" + (i % (width DIV 2)) * 2 + ({dc}) + 1 AS INT))"
        )

    quad = (
        f"transform(sequence(0, (width DIV 2) * (height DIV 2) - 1), "
        f"i -> {ops[agg](child(0, 0), child(0, 1), child(1, 0), child(1, 1))})"
    )
    # floor-division parent keys + pmod quadrant positions so NEGATIVE
    # tile coordinates map correctly (plain DIV/% truncate toward zero)
    guard = (
        "CASE WHEN width % 2 = 0 AND height % 2 = 0 THEN "
        f"{quad} ELSE raise_error('pyramid_up requires even tile size') END"
    )
    quads = tiles.selectExpr(
        "zoom - 1 AS zoom",
        "(tile_x - pmod(tile_x, 2)) DIV 2 AS tile_x",
        "(tile_y - pmod(tile_y, 2)) DIV 2 AS tile_y",
        "CAST(pmod(tile_x, 2) AS INT) AS qx",
        "CAST(pmod(tile_y, 2) AS INT) AS qy",
        "width",
        "height",
        f"{guard} AS qcells",
    )

    # step 2: pivot quadrants to columns, assemble rows west++east
    def pick(qx: int, qy: int) -> F.Column:
        return F.any_value(
            F.when((F.col("qx") == qx) & (F.col("qy") == qy), F.col("qcells")),
            True,
        ).alias(f"q_{qx}{qy}")

    per_parent = quads.groupBy("zoom", "tile_x", "tile_y").agg(
        pick(0, 0), pick(1, 0), pick(0, 1), pick(1, 1),
        F.any_value(F.col("width"), True).alias("width"),
        F.any_value(F.col("height"), True).alias("height"),
    )
    nd = f"CAST({fill!r} AS DOUBLE)" if fill == fill else "CAST('NaN' AS DOUBLE)"
    g = {
        k: f"coalesce(q_{k}, array_repeat({nd}, CAST((width DIV 2) * (height DIV 2) AS INT)))"
        for k in ("00", "10", "01", "11")
    }
    half = "CAST(width DIV 2 AS INT)"

    def rows(west: str, east: str) -> str:
        return (
            f"flatten(transform(sequence(0, height DIV 2 - 1), r -> concat("
            f"slice({g[west]}, CAST(r AS INT) * {half} + 1, {half}), "
            f"slice({g[east]}, CAST(r AS INT) * {half} + 1, {half}))))"
        )

    return per_parent.selectExpr(
        "zoom", "tile_x", "tile_y", "width", "height",
        f"concat({rows('00', '10')}, {rows('01', '11')}) AS cells",
    )


def rasterize_hops_sql(
    events: DataFrame,
    zoom: int,
    tile_size: int = 64,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """``trajectory.rasterize_hops`` as SQL: one row per DDA step via
    ``explode(sequence(0, n))``, each pixel from ``_dda_coord_sql``."""
    hops = _hops(events, zoom, tile_size, user_col, ts_col, id_col, lon, lat)
    px = _dda_coord_sql("x0", "x1", "n", "t")
    py = _dda_coord_sql("y0", "y1", "n", "t")
    return (
        hops.withColumn("n", F.expr("greatest(abs(x1 - x0), abs(y1 - y0))"))
        .select("x0", "y0", "x1", "y1", "n",
                F.expr("explode(sequence(0, n))").alias("t"))
        .select(F.expr(px).alias("px"), F.expr(py).alias("py"))
        .groupBy("px", "py")
        .agg(F.count("*").alias("n_traversals"))
    )
