"""tile_serving: one client in a closed loop against an Engine.

Inputs: the points of seeded docs inside a region, rasterized by
tiling.rasterize_count into 64 px tiles at z2-z6 and written as one
zoom-partitioned parquet pyramid. Set-up reads it back and caches it as
layer ``d``, next to a focal-mean layer ``f`` over the same tiles. Requests come in blocks of 20 whose make-up is fixed and whose
order and keys come from the seed:

- 13 ``get_tile_png`` on ``d``, keys Zipf(s=1.5)-ranked over every tile:
  a hot set of four tiles, smaller than the 32-entry RequestCache, takes
  about two thirds of them and a long tail larger than the cache the rest;
- 3 ``get_tile_png`` on the focal layer ``f`` (same key law);
- 3 GetMap-style ``get_extent`` + ``render_png`` over a 2x2-tile window;
- 1 ``set_layer`` swap, last in the block, that writes a new version of
  ``d`` beside the reads, reads it back and invalidates the cache.

Ranks are the Zipf quantiles at the stratum midpoints, so every block and
every seed has the same ranks and the same cache hits; the seed decides
which tiles hold those ranks, the GetMap windows and the request order.

The traced run also times the pyramid write path on the same points
(rasterize at z6, then tiling.write_pyramid: rasterize and the roll-up to
z0) and checks its levels, and times map algebra over the cached z6 level (maml focal mean, local loge(d + 1)): the
Python/Arrow boundary layers that requests touch only one tile at a time.
"""

from __future__ import annotations

import bisect
import functools
import os
import random
import time

from pyspark.sql import DataFrame

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.engine import SCHEME, Engine, Layer
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.maml.eval import eval_expr
from geotrellis_server_spark.operators.tiling import (
    rasterize_count, read_pyramid_level, write_pyramid)
from geotrellis_server_spark.styles.png import decode_png, encode_png

from .. import stats
from ..harness import Tracer
from .common import Workload, noop

N_DOCS = 50_000
TILE = 64
MIN_ZOOM, MAX_ZOOM = 2, 6
REGION = "lon >= -90 AND lon < 0 AND lat >= -45 AND lat < 60"
BLOCK = (("tile", 13), ("focal", 3), ("extent", 3), ("set_layer", 1))
ZIPF_S = 1.5
SPAN = {"tile": "serve_tile", "focal": "serve_focal", "extent": "serve_extent",
        "set_layer": "set_layer"}
PROBE_TILES = 5
ENCODE_REPS = 50


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's _ and . files excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


class TileServing(Workload):
    def __init__(self, spark, work, cores, seed, checks):
        self.spark, self.work, self.cores, self.seed, self.checks = spark, work, cores, seed, checks
        self.base = os.path.join(work, "serve_base")
        self.rng = random.Random(seed)
        self.versions = 0
        self.version_tiles = None
        self.tiles = None
        # (kind, seconds, cache hit, job group) per request, one list per phase
        self.log: list[tuple[str, float, bool, str | None]] = []
        self.phases = [self.log]
        self.rendered: dict[tuple, bytes] = {}

    # -- inputs and set-up -------------------------------------------------
    def points(self):
        """The coordinates of docs [seed*n, seed*n + n) (the values their geo
        spans carry, computed directly), kept inside the region."""
        lo = self.seed * N_DOCS
        return (self.spark.range(lo, lo + N_DOCS, 1, 4 * self.cores)
                .selectExpr(f"{sqlgen.lon_sql('id')} AS lon", f"{sqlgen.lat_sql('id')} AS lat")
                .where(REGION))

    def prepare(self):
        points = self.points()
        levels = [rasterize_count(points, z, TILE) for z in range(MIN_ZOOM, MAX_ZOOM + 1)]
        (functools.reduce(DataFrame.unionByName, levels)
         .write.mode("overwrite").partitionBy("zoom").parquet(self.base))
        self.region_docs = self.checks.op("region_docs", points.count)
        self._check_pyramid(self.base, MIN_ZOOM)
        keys = sorted((r.zoom, r.tile_x, r.tile_y) for r in self.spark.read.parquet(self.base)
                      .select("zoom", "tile_x", "tile_y").collect())
        self.rng.shuffle(keys)  # rank order: which tiles are hot
        self.keys = keys
        self.by_zoom: dict[int, list] = {}
        for z, x, y in sorted(keys):
            self.by_zoom.setdefault(z, []).append((x, y))
        weights = [r ** -ZIPF_S for r in range(1, len(keys) + 1)]
        total, acc, self.cdf = sum(weights), 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def _check_pyramid(self, path, min_zoom) -> int:
        """Every level from ``min_zoom`` to MAX_ZOOM holds every doc of the
        region exactly once; returns the number of tiles."""
        c, n = self.checks, self.region_docs
        rows = c.op("pyramid_levels", lambda: self.spark.read.parquet(path)
                    .selectExpr("zoom", "aggregate(cells, 0D, (a, v) -> a + coalesce(v, 0D)) AS s")
                    .groupBy("zoom").agg({"*": "count", "s": "sum"}).collect())
        if rows is None:
            return 0
        levels = {int(r["zoom"]): (int(r["count(1)"]), r["sum(s)"]) for r in rows}
        c.expect("pyramid_zooms", sorted(levels) == list(range(min_zoom, MAX_ZOOM + 1)),
                 f"{sorted(levels)}")
        for z, (_, total) in sorted(levels.items()):
            c.expect(f"pyramid_sum_z{z}", total == n, f"{total} != {n}")
        return sum(t for t, _ in levels.values())

    def setup(self):
        """Read the pyramid back, cache it and open the Engine (layer
        metadata included)."""
        if self.tiles is not None and self.tiles.sparkSession is self.spark:
            self.tiles.unpersist()
        self.tiles = self.spark.read.parquet(self.base).cache()
        d = Layer("d", self.tiles)
        f = Layer("f", self.tiles, expression=M.focal("fmean", M.var("f"), radius=1))
        self.engine = Engine(self.spark, {"d": d, "f": f})
        d.meta()
        f.meta()

    # -- the request mix ----------------------------------------------------
    def _ranks(self, m: int) -> list[int]:
        return [min(bisect.bisect_left(self.cdf, (i + 0.5) / m), len(self.cdf) - 1)
                for i in range(m)]

    def _window(self):
        z = self.rng.choice([z for z in (3, 4, 5, 6) if z in self.by_zoom])
        x, y = self.rng.choice(self.by_zoom[z])
        return z, x, y

    def block(self) -> list[tuple]:
        reqs = []
        for kind, m in BLOCK:
            if kind in ("tile", "focal"):
                reqs += [(kind, self.keys[r]) for r in self._ranks(m)]
            elif kind == "extent":
                reqs += [(kind, self._window()) for _ in range(m)]
        self.rng.shuffle(reqs)
        return reqs + [("set_layer", None)] * dict(BLOCK)["set_layer"]

    # -- requests -------------------------------------------------------------
    def _extent(self, window):
        z, x, y = window
        lay = SCHEME.layout(z)
        nw, se = lay.extent_for(x, y), lay.extent_for(x + 1, y + 1)
        ext = (nw.xmin, se.ymin, se.xmax, nw.ymax)
        eng = self.engine
        return eng.render_png(eng.get_extent("d", ext, lay.tile_width / TILE),
                              None).select("png").collect()

    def _swap(self):
        """Publish a new version of ``d``: write it, read it back, cache it."""
        self.versions += 1
        path = os.path.join(self.work, f"serve_v{self.versions}")
        self.engine.layers["d"].tiles.write.mode("overwrite").partitionBy("zoom").parquet(path)
        old, self.version_tiles = self.version_tiles, self.spark.read.parquet(path).cache()
        self.version_tiles.count()
        self.engine.set_layer("d", Layer("d", self.version_tiles))
        if old is not None and old.sparkSession is self.spark:
            old.unpersist()

    def request(self, tracer, kind, arg):
        cache = self.engine.request_cache
        hits, result = cache.hits, None
        t0 = time.perf_counter()
        with tracer.span(SPAN[kind]):
            if kind == "tile":
                result = self.engine.get_tile_png("d", *arg)
            elif kind == "focal":
                result = self.engine.get_tile_png("f", *arg)
            elif kind == "extent":
                result = self._extent(arg)
            else:
                self._swap()
        dt = time.perf_counter() - t0
        hit = cache.hits > hits
        self.log.append((kind, dt, hit, tracer.group))
        if kind in ("tile", "focal"):
            self._check_tile("d" if kind == "tile" else "f", arg, result, hit)
        elif kind == "extent":
            self._check_extent(arg, result)

    def _check_tile(self, layer, key, png, hit):
        c = self.checks
        if not c.expect("png_present", png is not None, f"{layer}{key}"):
            return
        c.expect("png_decodes", decode_png(png).shape == (TILE, TILE, 4), f"{layer}{key}")
        full = (layer, self.engine.layers[layer].generation, *key)
        if hit:
            c.expect("hit_equals_miss", self.rendered.get(full) == png, f"{full}")
        else:
            self.rendered[full] = png

    def _check_extent(self, window, rows):
        c = self.checks
        c.expect("extent_rows", len(rows) >= 1, f"{window}")
        for r in rows:
            c.expect("extent_png", decode_png(bytes(r.png)).shape == (TILE, TILE, 4))

    def round(self, tracer):
        for kind, arg in self.block():
            self.checks.op(kind, lambda: self.request(tracer, kind, arg))

    def warmup(self):
        """One request of each kind, then an empty cache for the run."""
        quiet = Tracer(self.spark, traced=False)
        for kind, _ in BLOCK:
            arg = self._window() if kind == "extent" else self.keys[-1]
            self.checks.op(kind, lambda: self.request(quiet, kind, arg))
        self.engine.request_cache.invalidate()

    def begin(self):
        cache = self.engine.request_cache
        self.cache_base = (cache.hits, cache.misses)
        self.log = []
        self.phases.append(self.log)

    # -- the write path and map algebra, traced runs only --------------------
    def traced_extras(self, tracer):
        c, out = self.checks, os.path.join(self.work, "rebuild")
        c.op("rasterize", lambda: tracer.timed("rasterize", lambda: (
            rasterize_count(self.points(), MAX_ZOOM, TILE)
            .write.mode("overwrite").partitionBy("zoom").parquet(out + "_z6"))))
        c.op("write_pyramid", lambda: tracer.timed("write_pyramid", lambda: write_pyramid(
            self.points(), out, max_zoom=MAX_ZOOM, tile_size=TILE)))
        self.tiles_written = self._check_pyramid(out, 0)
        self.bytes_written = dir_bytes(out)
        z6 = (read_pyramid_level(self.spark, self.base, MAX_ZOOM)
              .repartition(self.cores, "zoom", "tile_x", "tile_y").cache())
        n6 = z6.count()
        focal = eval_expr(M.focal("fmean", M.var("d"), radius=1), {"d": z6})
        local = eval_expr(M.Expr("loge", (M.var("d") + 1.0,)), {"d": z6})
        c.op("maml_focal", lambda: tracer.timed("maml_focal", lambda: noop(focal)))
        c.op("maml_local", lambda: tracer.timed("maml_local", lambda: noop(local)))
        n = c.op("focal_tiles", focal.count)
        c.expect("focal_tiles", n == n6, f"{n} != {n6}")
        z6.unpersist()

    # -- reporting ----------------------------------------------------------
    def end_to_end(self, times):
        """Requests per second of request time (one closed-loop client, so
        1 / mean latency), and the same over requests that ran Spark."""
        lat = [dt for _, dt, _, _ in self.log]
        spark_path = [dt for _, dt, hit, _ in self.log if not hit]
        return {"throughput_per_s": len(lat) / sum(lat),
                "secondary_per_s": len(spark_path) / sum(spark_path)}

    def per_layer(self, traced, untraced):
        def miss_p50_ms(kind):
            v = [dt for k, dt, hit, _ in self.log if k == kind and not hit]
            return 1e3 * stats.median(v) if v else 0.0

        lat = [dt for _, dt, _, _ in self.log]
        cache = self.engine.request_cache
        hits, misses = cache.hits - self.cache_base[0], cache.misses - self.cache_base[1]
        # hits from the untraced half: a span's job-group calls cost more
        # than a hit itself
        hit_us = [1e6 * dt for _, dt, hit, _ in self.phases[-2] if hit]

        # plan (lazy DataFrame) vs action (collect) on uncached tile renders
        plan, action = [], []
        eng = self.engine
        for z, x, y in self.keys[-PROBE_TILES - 1:-1]:
            t0 = time.perf_counter()
            df = eng.render_png(eng.get_tile("d", z, x, y), eng.layers["d"].style)
            t1 = time.perf_counter()
            png = bytes(df.select("png").first().png)
            plan.append(t1 - t0)
            action.append(time.perf_counter() - t1)
        rgba, enc = decode_png(png), []
        for _ in range(ENCODE_REPS):
            t0 = time.perf_counter()
            encode_png(rgba)
            enc.append(time.perf_counter() - t0)
        rasterize, pyramid_up = stats.prefix_self_times(
            [stats.median(traced["rasterize"]), stats.median(traced["write_pyramid"])])
        return {
            "tiling.rasterize_s": rasterize,
            "tiling.pyramid_up_s": pyramid_up,
            "tiling.tiles_written": self.tiles_written,
            "tiling.bytes_written": self.bytes_written,
            "maml.focal_s": stats.median(traced["maml_focal"]),
            "maml.local_s": stats.median(traced["maml_local"]),
            "engine.plan_ms_p50": 1e3 * stats.median(plan),
            "engine.action_ms_p50": 1e3 * stats.median(action),
            "engine.tile_ms_p50": miss_p50_ms("tile"),
            "engine.focal_tile_ms_p50": miss_p50_ms("focal"),
            "engine.extent_ms_p50": miss_p50_ms("extent"),
            "engine.set_layer_ms_p50": miss_p50_ms("set_layer"),
            "engine.requests": len(lat),
            "engine.req_latency_p50_ms": 1e3 * stats.median(lat),
            "engine.req_latency_p90_ms": 1e3 * stats.nearest_rank(lat, 90),
            # highest percentile with ten requests beyond it (0: too few)
            "engine.req_tail_pct": stats.tail_percentile(len(lat)) or 0,
            "cache.hits": hits,
            "cache.misses": misses,
            "cache.hit_ratio": hits / max(hits + misses, 1),
            "cache.hit_us_p50": stats.median(hit_us) if hit_us else 0.0,
            "styles.encode_png_ms": 1e3 * stats.median(enc),
        }

    def event_metrics(self, events):
        calls = events["calls"]
        miss = [calls.get(g, {}) for k, _, hit, g in self.log
                if k in ("tile", "focal") and not hit]
        n = max(len(miss), 1)
        return {"engine.jobs_per_miss": sum(c.get("jobs", 0) for c in miss) / n,
                "engine.stages_per_miss": sum(c.get("stages", 0) for c in miss) / n}
