"""join_tile_batch: the docs/s headline.

scan (zstd parquet) -> synth.extract_geometry -> spatial_join.pip_join_rect
(prebuilt cover) -> tiling.assign_tiles(z=12) -> per-(zone, tile) count ->
noop write; then knn.knn_join_bulk for 200 queries, k=10. All JVM codegen
and broadcast joins: no Python UDF, no request cache, no PNG.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Window
from pyspark.sql import functions as F

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.grids import cells as C
from geotrellis_server_spark.operators import knn, spatial_join, tiling
from geotrellis_server_spark.sources import synth

from .. import stats
from .common import Workload, noop

N_DOCS = 250_000
N_QUERIES = 200
K = 10
ZOOM = 12
BRUTE_FORCE_QUERIES = 3


class JoinTileBatch(Workload):
    traced_rounds = 3  # prefix differences need medians, not single runs

    def __init__(self, spark, work, cores, seed, checks):
        self.spark, self.cores, self.seed, self.checks = spark, cores, seed, checks
        self.docs_path = os.path.join(work, "docs.parquet")
        self.zone_cells = None

    # -- inputs and set-up -------------------------------------------------
    def prepare(self):
        """Docs [seed*n, seed*n + n) as zstd parquet, four files (scan
        tasks) per core: the seed moves which ids, and so which coordinates,
        span layouts and clusters, the run sees."""
        lo = self.seed * N_DOCS
        (self.spark.range(lo, lo + N_DOCS, 1, 4 * self.cores)
         .select(F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
                 F.expr(synth.spans_sql("id")).alias("spans"))
         .write.mode("overwrite").option("compression", "zstd").parquet(self.docs_path))

    def setup(self):
        """Build and cache the broadcast cell cover (the fixed cost a job
        pays once before streaming docs through it)."""
        if self.zone_cells is not None and self.zone_cells.sparkSession is self.spark:
            self.zone_cells.unpersist()
        self.zones = synth.zone_grid(self.spark)
        self.zone_cells = spatial_join.build_rect_zone_cells(self.zones).cache()
        self.cover_rows = self.zone_cells.count()
        r = random.Random(self.seed)
        a, b = r.randrange(368640), r.randrange(174080)
        self.queries = self.spark.range(N_QUERIES).selectExpr(
            "id AS query_id",
            f"CAST((id * 7349 + {a}) % 368640 AS DOUBLE) / 1024.0 - 180.0 AS qlon",
            f"CAST((id * 4391 + {b}) % 174080 AS DOUBLE) / 1024.0 - 85.0 AS qlat",
        )

    # -- the measured operations -------------------------------------------
    def points(self):
        return synth.extract_geometry(self.spark.read.parquet(self.docs_path))

    def joined(self):
        return spatial_join.pip_join_rect(self.points(), self.zones, zone_cells=self.zone_cells)

    def flagship(self):
        return (tiling.assign_tiles(self.joined(), ZOOM)
                .groupBy("zone_id", "tile_x", "tile_y")
                .agg(F.count("*").alias("n_docs")))

    def knn(self):
        return knn.knn_join_bulk(self.points(), self.queries, k=K, res=knn.auto_res(N_DOCS))

    def round(self, tracer):
        c = self.checks
        if tracer.traced:
            # growing prefixes of the flagship, each closed by a global sum
            # (cheap, and it needs every column the next stage reads);
            # self times are differences
            c.op("scan_extract", lambda: tracer.timed("scan_extract", lambda: (
                self.points().agg(F.sum("lon"), F.sum("lat")).first())))
            c.op("pip_prefix", lambda: tracer.timed("pip_prefix", lambda: (
                self.joined().agg(F.sum("zone_id"), F.sum("lon"), F.sum("lat")).first())))
        c.op("flagship", lambda: tracer.timed("flagship", lambda: noop(self.flagship())))
        c.op("knn_bulk", lambda: tracer.timed("knn_bulk", lambda: self.knn().count()))

    # -- correctness --------------------------------------------------------
    def warmup(self):
        """The flagship and kNN once each, untimed, with their outputs checked."""
        c = self.checks

        def digest(df):
            return tuple(df.agg(
                F.count("*"), F.sum("n_docs"),
                F.expr("bit_xor(xxhash64(zone_id, tile_x, tile_y, n_docs))"),
            ).first())

        # the same rows straight from the doc-id arithmetic: zone by
        # direct formula, no cell cover and no WKT parsing
        lo = self.seed * N_DOCS
        direct = (self.spark.range(lo, lo + N_DOCS)
                  .selectExpr(f"{sqlgen.lon_sql('id')} AS lon", f"{sqlgen.lat_sql('id')} AS lat")
                  .selectExpr(f"{sqlgen.zone_id_for_point_sql('lon', 'lat')} AS zone_id",
                              f"{sqlgen.tile_x_sql('lon', ZOOM)} AS tile_x",
                              f"{sqlgen.tile_y_sql('lat', ZOOM)} AS tile_y")
                  .groupBy("zone_id", "tile_x", "tile_y")
                  .agg(F.count("*").alias("n_docs")))
        # three independent cold jobs: their JIT warm-up overlaps
        with ThreadPoolExecutor(3) as pool:
            jobs = {"flagship": pool.submit(digest, self.flagship()),
                    "direct_digest": pool.submit(digest, direct),
                    "knn_bulk": pool.submit(lambda: self.knn().collect())}
            got, want, res = (c.op(name, job.result) for name, job in jobs.items())
        if got is not None:
            c.expect("flagship_sum", got[1] == N_DOCS, f"{got[1]} != {N_DOCS}")
            c.expect("flagship_rows", got == want, f"{got} != {want}")
        if res is not None:
            self._check_knn(res)

    def _check_knn(self, rows):
        c = self.checks
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        c.expect("knn_queries", len(by_q) == N_QUERIES, f"{len(by_q)}")
        ok = True
        for q in by_q.values():
            q.sort(key=lambda r: r.rank)
            ok &= [r.rank for r in q] == list(range(1, K + 1))
            ok &= all(a.dist_sq <= b.dist_sq for a, b in zip(q, q[1:]))
        c.expect("knn_ranks", ok)
        # brute force for a few queries: every doc, ordered by distance
        picked = random.Random(self.seed).sample(range(N_QUERIES), BRUTE_FORCE_QUERIES)
        dx, dy = F.col("lon") - F.col("qlon"), F.col("lat") - F.col("qlat")
        w = Window.partitionBy("query_id").orderBy("dist_sq", "doc_id")
        brute = (self.points().select("doc_id", "lon", "lat")
                 .crossJoin(self.queries.where(F.col("query_id").isin(picked)))
                 .select("query_id", "doc_id", (dx * dx + dy * dy).alias("dist_sq"))
                 .withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= K)
                 .collect())
        for qid in picked:
            want = sorted((r.rank, r.doc_id, r.dist_sq) for r in brute if r.query_id == qid)
            got = [(r.rank, r.doc_id, r.dist_sq) for r in by_q.get(qid, [])]
            c.expect(f"knn_brute_{qid}", got == want)

    # -- reporting ----------------------------------------------------------
    def end_to_end(self, times):
        return {"throughput_per_s": N_DOCS / stats.median(times["flagship"]),
                "secondary_per_s": N_QUERIES / stats.median(times["knn_bulk"])}

    def per_layer(self, traced, untraced):
        med = {k: stats.median(v) for k, v in traced.items()}
        scan, pip_self, agg_self = stats.prefix_self_times(
            [med["scan_extract"], med["pip_prefix"], med["flagship"]])
        # candidates: cover matches on the cell key, before the exact test
        cand = (self.points().select("lon", "lat")
                .withColumn("cell", C.cell_key_col("lon", "lat", spatial_join.DEFAULT_PREFILTER_RES))
                .join(F.broadcast(self.zone_cells), "cell"))
        candidates = cand.count()
        matches = cand.where("lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax").count()
        return {
            "sources.scan_extract_s": scan,
            "spatial_join.self_s": pip_self,
            "spatial_join.cover_build_s": med["setup"],
            "spatial_join.cover_rows": self.cover_rows,
            "spatial_join.candidates": candidates,
            "spatial_join.matches": matches,
            "spatial_join.match_ratio": matches / candidates,
            "tiling.assign_agg_self_s": agg_self,
            "join.reconcile_ratio": (scan + pip_self + agg_self) / stats.median(untraced["flagship"]),
            "knn.bulk_s": med["knn_bulk"],
        }

    def event_metrics(self, events):
        calls = events["spans"].get("knn_bulk", {})
        # each ring pass of knn_join_bulk is one or more Spark jobs
        return {"knn.spark_jobs": calls.get("jobs", 0) / max(calls.get("calls", 0), 1)}
