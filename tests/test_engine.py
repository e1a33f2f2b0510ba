"""Engine service surface (E1–E6) + resumable job (M9) end-to-end."""

from functools import reduce

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from geotrellis_server_spark.engine import Engine, Layer
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.operators import tiling
from geotrellis_server_spark.sources import synth
from geotrellis_server_spark.styles.png import decode_png


@pytest.fixture(scope="module")
def density_engine(spark):
    docs = synth.extract_geometry(synth.docs(spark, 3000))
    tiles = (
        tiling.rasterize_count(docs, 3, tile_size=16)
        .union(tiling.rasterize_count(docs, 2, tile_size=16))
        .withColumn("band", F.lit(0))
        .cache()
    )
    layers = {
        "density": Layer("density", tiles),
        "density2x": Layer("density2x", tiles, expression=M.var("density2x") * 2.0),
    }
    return Engine(spark, layers)


def test_get_tile_point_lookup(density_engine, spark):
    any_tile = density_engine.layers["density"].tiles.filter("zoom = 3").first()
    out = density_engine.get_tile("density", 3, any_tile.tile_x, any_tile.tile_y).collect()
    assert len(out) == 1
    assert out[0].cells == any_tile.cells


def test_get_tile_applies_expression(density_engine):
    t = density_engine.layers["density"].tiles.filter("zoom = 3").first()
    out = density_engine.get_tile("density2x", 3, t.tile_x, t.tile_y).collect()[0]
    a = np.array([0 if v is None else v for v in t.cells])
    b = np.array([0 if v is None else v for v in out.cells])
    assert (b == a * 2).all()


def test_get_extent_prunes_and_crops(density_engine):
    from geotrellis_server_spark.grids.layout import WEBMERCATOR_BOUND as B

    # a quarter-world window at zoom-3 resolution
    ext = (-B, 0.0, 0.0, B)
    cs = (2 * B) / (8 * 16)  # zoom 3, 16px tiles
    out = density_engine.get_extent("density", ext, cs)
    rows = out.collect()
    assert all(r.zoom == 3 for r in rows)
    assert all(r.tile_x <= 3 and r.tile_y <= 3 for r in rows)


def test_get_values_matches_rasterize(density_engine, spark):
    # sample the density layer at 3 doc locations → value >= 1 (the doc
    # itself landed in that pixel)
    docs = synth.extract_geometry(synth.docs(spark, 3000)).limit(3).collect()
    pts = [(r.lon, r.lat) for r in docs]
    out = density_engine.get_values("density", pts, zoom=3).collect()
    assert len(out) == 3
    assert all(r.value is not None and r.value >= 1.0 for r in out)


def test_describe(density_engine):
    d = {x["name"]: x for x in density_engine.describe()}
    assert set(d) == {"density", "density2x"}
    assert d["density"]["zooms"] == [2, 3]
    assert d["density2x"]["expression"]["symbol"] == "*"


def test_render_png_roundtrip(density_engine):
    t = density_engine.get_tile("density", 3, 0, 0)
    if not t.count():
        t = density_engine.layers["density"].tiles.filter("zoom = 3").limit(1)
    row = density_engine.render_png(t).collect()[0]
    img = decode_png(bytes(row.png))
    assert img.shape == (16, 16, 4)


def test_catalog_find(spark, density_engine):
    from geotrellis_server_spark.query import ast as Q

    cat = spark.createDataFrame(
        [("density", -180.0, -85.0, 180.0, 85.0, None, None, None)],
        "name STRING, xmin DOUBLE, ymin DOUBLE, xmax DOUBLE, ymax DOUBLE,"
        " times ARRAY<TIMESTAMP>, t_start TIMESTAMP, t_end TIMESTAMP",
    )
    eng = Engine(spark, density_engine.layers, catalog=cat)
    assert eng.find_layers(Q.intersects((0, 0, 1, 1))) == ["density"]
    assert eng.find_layers(Q.with_name("nope")) == []
    # the CQL2-text surface compiles to the same scan
    assert eng.find_layers_cql(
        "S_INTERSECTS(geom, BBOX(0, 0, 1, 1))") == ["density"]
    assert eng.find_layers_cql(
        "name = 'density' AND S_INTERSECTS(geom, BBOX(0, 0, 1, 1))"
    ) == ["density"]
    assert eng.find_layers_cql("name = 'nope'") == []


def test_resumable_job_crash_and_resume(spark, tmp_path):
    from geotrellis_server_spark.lineage import ResumableTilingJob

    docs_path = str(tmp_path / "docs.parquet")
    synth.docs(spark, 2000).write.parquet(docs_path)

    out = str(tmp_path / "out")
    job = ResumableTilingJob(spark, out, "j1", n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        job.run(docs_path, zoom=6, fail_after=2)
    m1 = job._load_manifest()
    assert len(m1["completed"]) == 2  # two buckets committed before crash

    m2 = job.run(docs_path, zoom=6)  # resume
    assert len(m2["completed"]) == 4
    # resumed result == fresh full run
    job2 = ResumableTilingJob(spark, str(tmp_path / "out2"), "j2", n_buckets=4)
    job2.run(docs_path, zoom=6)
    a = {(r.zone_id, r.tile_x, r.tile_y): r.n_docs for r in job.result().collect()}
    b = {(r.zone_id, r.tile_x, r.tile_y): r.n_docs for r in job2.result().collect()}
    assert a == b
    assert job.result().agg(F.sum("n_docs")).collect()[0][0] == 2000
    # metrics + lineage rows per bucket
    assert job.metrics_df().count() == 4
    lin = job.lineage_df().collect()
    assert len(lin) == 4 and all(r.input_path == docs_path for r in lin)


def test_request_cache_lru_ttl():
    from geotrellis_server_spark.cache import RequestCache

    t = [0.0]
    c = RequestCache(max_entries=2, ttl_seconds=10.0, clock=lambda: t[0])
    calls = []
    mk = lambda k: lambda: calls.append(k) or f"v{k}"
    assert c.get_or("a", mk("a")) == "va"
    assert c.get_or("a", mk("a")) == "va"  # hit, no recompute
    assert calls == ["a"] and c.hits == 1
    c.get_or("b", mk("b"))
    c.get_or("c", mk("c"))  # evicts "a" (LRU, cap 2)
    assert len(c) == 2
    c.get_or("a", mk("a"))
    assert calls == ["a", "b", "c", "a"]
    t[0] = 11.0  # TTL expiry → recompute
    c.get_or("a", mk("a"))
    assert calls[-1] == "a" and calls.count("a") == 3


def test_get_tile_png_cached(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    png1 = eng.get_tile_png("density", 2, 1, 1)
    assert png1 and png1[:8] == b"\x89PNG\r\n\x1a\n"
    misses = eng.request_cache.misses
    png2 = eng.get_tile_png("density", 2, 1, 1)
    assert png2 == png1
    assert eng.request_cache.misses == misses and eng.request_cache.hits >= 1


def test_request_cache_ttl_stamped_after_compute():
    # ADVICE r2: a slow fn() must not eat into the entry's TTL
    from geotrellis_server_spark.cache import RequestCache

    t = [0.0]
    c = RequestCache(max_entries=4, ttl_seconds=10.0, clock=lambda: t[0])

    def slow():
        t[0] += 9.0  # compute takes 9s of the 10s TTL
        return "v"

    assert c.get_or("k", slow) == "v"
    t[0] += 9.0  # 9s after compute finished -> still fresh
    assert c.get_or("k", lambda: "recomputed") == "v"


def test_tile_png_cache_invalidated_on_layer_swap(spark):
    import dataclasses

    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    a = eng.get_tile_png("density", 2, 1, 1)
    hits0 = eng.request_cache.hits
    assert eng.get_tile_png("density", 2, 1, 1) == a  # cached
    assert eng.request_cache.hits == hits0 + 1
    # swap the layer object (same tables) -> must recompute, not serve stale
    eng.set_layer("density", dataclasses.replace(eng.layers["density"]))
    misses0 = eng.request_cache.misses
    eng.get_tile_png("density", 2, 1, 1)
    assert eng.request_cache.misses == misses0 + 1


def test_get_tile_jpg(spark):
    import numpy as np

    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth
    from geotrellis_server_spark.styles.jpeg import decode_jpeg

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    jpg = eng.get_tile_jpg("density", 2, 1, 1)
    assert jpg and jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    arr = decode_jpeg(jpg)
    assert arr.shape == (8, 8, 3) and arr.dtype == np.uint8
    # memoized like the PNG path
    misses = eng.request_cache.misses
    assert eng.get_tile_jpg("density", 2, 1, 1) == jpg
    assert eng.request_cache.misses == misses
    # matches the PNG render composited over white
    from geotrellis_server_spark.styles.png import decode_png

    png_arr = decode_png(eng.get_tile_png("density", 2, 1, 1))
    a = png_arr[..., 3:4].astype(np.float64) / 255.0
    want = np.clip(np.round(png_arr[..., :3].astype(np.float64) * a
                            + 255.0 * (1 - a)), 0, 255)
    assert np.abs(arr.astype(np.float64) - want).max() < 35  # lossy bound


def test_describe_advertises_formats_and_crs(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 300))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    entry = eng.describe()[0]
    assert "image/jpeg" in entry["formats"] and "image/png" in entry["formats"]
    crs = entry["request_crs"]
    assert 4326 in crs and 3035 in crs and 5070 in crs and 54009 in crs


def test_legend_png_rendering(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling as _tiling
    from geotrellis_server_spark.sources import synth
    from geotrellis_server_spark.styles.png import decode_png

    docs = synth.extract_geometry(synth.docs(spark, 500))
    tiles = _tiling.rasterize_count(docs, 2, tile_size=8)
    poles = {0.0: (0, 0, 255, 255), 10.0: (255, 0, 0, 255)}
    eng = Engine(spark, {
        "plain": Layer("plain", tiles),
        "styled": Layer("styled", tiles, style={"poles": poles}),
    })
    assert eng.get_legend_png("plain") is None  # no fixed value scale
    png = eng.get_legend_png("styled", width=8, height=64)
    arr = decode_png(png)
    assert arr.shape == (64, 8, 4)
    # map-legend convention: max value (red pole) at the TOP
    assert tuple(arr[0, 0]) == (255, 0, 0, 255)
    assert tuple(arr[-1, 0]) == (0, 0, 255, 255)
    # midpoint interpolates between the poles
    mid = arr[32, 0].astype(int)
    assert 100 < mid[0] < 160 and 100 < mid[2] < 160
    # describe() advertises the LegendModel fields for styled layers only
    by_name = {e["name"]: e for e in eng.describe()}
    assert "legend" not in by_name["plain"]
    leg = by_name["styled"]["legend"]
    assert leg["format"] == "image/png" and leg["online_resource"].endswith(
        "styled.png")


# -- request path: get_tile_png on the driver vs the DataFrame witness ------

TILE_DDL = ("zoom INT, tile_x BIGINT, tile_y BIGINT, band INT, width INT, "
            "height INT, cells ARRAY<DOUBLE>")
ABSENT = {(1, 2), (2, 1), (3, 3)}  # holes in the z2 grid: sparse neighbourhoods
# world corner, world edge, interior, interior beside two holes, a hole
WITNESS_KEYS = [(2, 0, 0), (2, 3, 0), (2, 1, 1), (2, 2, 2), (2, 3, 3)]
RING = [(-100.0, -30.0), (60.0, -40.0), (70.0, 50.0), (-90.0, 45.0)]


def _tiles(spark, keys, seed, w=8, h=8, band=0):
    """Random 0-8 counts with NoData holes, both NaN and NULL."""
    rng = np.random.default_rng(seed)
    rows = []
    for z, x, y in keys:
        c = rng.integers(0, 9, w * h).astype(float)
        hole = rng.random(w * h) < 0.2
        cells = [None if hole[i] and i % 2 else float("nan") if hole[i] else v
                 for i, v in enumerate(c.tolist())]
        rows.append((z, x, y, band, w, h, cells))
    return spark.createDataFrame(rows, TILE_DDL)


def _grid(skip=frozenset()):
    return [(2, x, y) for x in range(4) for y in range(4) if (x, y) not in skip]


@pytest.fixture(scope="module")
def witness_engine(spark):
    t = _tiles(spark, _grid(ABSENT), seed=7).coalesce(1).cache()
    u = _tiles(spark, _grid({(0, 0), (2, 3)}), seed=8).coalesce(1).cache()
    layers = {
        "plain": Layer("plain", t),
        "density2x": Layer("density2x", t, expression=M.var("density2x") * 2.0),
        "two_var": Layer("two_var", t, sources={"a": t, "b": u},
                         expression=M.focal("fmean", M.var("a"), radius=1) + M.var("b") * 0.5),
        "rescale": Layer("rescale", t, expression=M.rescale(M.var("rescale"), 0.0, 100.0)),
        "styled": Layer("styled", t, style={
            "poles": {1.0: (0, 0, 255, 255), 6.0: (255, 0, 0, 255)}, "clip": "clip-both"}),
        "geom_local": Layer("geom_local", t, expression=M.mask(M.var("geom_local"), M.geom(RING))),
        "geom_focal": Layer("geom_focal", t, expression=M.focal(
            "fsum", M.mask(M.var("geom_focal"), M.geom(RING)), radius=1)),
    }
    for op in ("fmean", "fmax", "fmedian"):
        for r in (1, 2):
            name = f"{op}_r{r}"
            layers[name] = Layer(name, t, expression=M.focal(op, M.var(name), radius=r))
    return Engine(spark, layers)


WITNESS_LAYERS = ["plain", "density2x", "two_var", "rescale", "styled", "geom_local",
                  "geom_focal", "fmean_r1", "fmean_r2", "fmax_r1", "fmax_r2",
                  "fmedian_r1", "fmedian_r2"]


def _witness_pngs(eng, name, keys):
    """render_png(get_tile(...)) per key — the DataFrame path, one job."""
    tiles = reduce(DataFrame.unionByName, [eng.get_tile(name, *k) for k in keys])
    rows = eng.render_png(tiles, eng.layers[name].style).collect()
    got = {(r.zoom, r.tile_x, r.tile_y): bytes(r.png) for r in rows}
    return {k: got.get(k) for k in keys}


@pytest.mark.parametrize("name", WITNESS_LAYERS)
def test_get_tile_png_equals_dataframe_witness(witness_engine, name):
    eng = witness_engine
    want = _witness_pngs(eng, name, WITNESS_KEYS)
    got = {k: eng.get_tile_png(name, *k) for k in WITNESS_KEYS}
    assert got == want
    assert got[(2, 3, 3)] is None and got[(2, 2, 2)] is not None


def test_get_tile_png_builds_no_python_udf(witness_engine, monkeypatch):
    """The request path is JVM collects + driver numpy: no pandas UDF is
    planned and render_png (the DataFrame render) is not called."""
    eng = witness_engine
    want = {n: eng.get_tile_png(n, 2, 2, 2) for n in ("plain", "two_var", "geom_focal")}

    def boom(*a, **k):
        raise AssertionError("Python UDF on the request path")

    monkeypatch.setattr(Engine, "render_png", boom)
    monkeypatch.setattr("pyspark.sql.functions.pandas_udf", boom)
    eng.request_cache.invalidate()
    for n, png in want.items():
        assert eng.get_tile_png(n, 2, 2, 2) == png
    assert eng.get_tile_png("fmedian_r2", 2, 0, 0) is not None
    assert eng.get_tile_png("geom_local", 2, 3, 3) is None


def test_get_tile_png_renders_lowest_band(spark):
    """A multiband tile renders its lowest band — band 1 rows come first in
    the table, so "whichever row comes back first" would pick band 1 — and
    vars align on the lowest band they ALL have at the centre."""
    keys = _grid()
    b1 = _tiles(spark, keys, seed=1, band=1)
    b0 = _tiles(spark, keys, seed=2, band=0)
    two = b1.unionByName(b0).coalesce(1).cache()
    b2 = _tiles(spark, keys, seed=3, band=2)
    other = b1.unionByName(b2).coalesce(1).cache()  # bands {1, 2}
    eng = Engine(spark, {
        "two": Layer("two", two),
        "f": Layer("f", two, expression=M.focal("fmean", M.var("f"), radius=1)),
        "pair": Layer("pair", two, sources={"a": two, "b": other},
                      expression=M.focal("fmax", M.var("a"), radius=1) - M.var("b")),
    })

    def witness(name, band):
        rows = eng.render_png(eng.get_tile(name, 2, 1, 2).filter(F.col("band") == band),
                              None).collect()
        return bytes(rows[0].png)

    assert eng.get_tile_png("two", 2, 1, 2) == witness("two", 0) != witness("two", 1)
    assert eng.get_tile_png("f", 2, 1, 2) == witness("f", 0)
    assert eng.get_tile_png("pair", 2, 1, 2) == witness("pair", 1)


def test_get_tile_png_rejects_mismatched_neighbour(spark):
    centre = _tiles(spark, [(2, 1, 1)], seed=4)
    east = _tiles(spark, [(2, 2, 1)], seed=5, w=4, h=4)
    t = centre.unionByName(east)
    eng = Engine(spark, {
        "f": Layer("f", t, expression=M.focal("fmean", M.var("f"), radius=1))})
    with pytest.raises(ValueError, match="is 4x4; the centre tile is 8x8"):
        eng.get_tile_png("f", 2, 1, 1)


def test_get_tile_png_rejects_buffer_beyond_one_ring(spark):
    t = _tiles(spark, _grid(), seed=6, w=2, h=3)
    eng = Engine(spark, {
        "ok": Layer("ok", t, expression=M.focal("fmax", M.var("ok"), radius=2)),
        "f": Layer("f", t, expression=M.focal("fmax", M.var("f"), radius=3)),
        "nested": Layer("nested", t, expression=M.focal(
            "fmean", M.focal("fmean", M.var("nested"), radius=2), radius=1)),
    })
    assert eng.get_tile_png("ok", 2, 1, 1) is not None
    for name in ("f", "nested"):
        with pytest.raises(ValueError, match="exceeds min\\(width, height\\) = 2"):
            eng.get_tile_png(name, 2, 1, 1)
