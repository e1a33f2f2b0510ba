"""Property-based tests (hypothesis) — pure-python kernels (no Spark
session per example): tile-key math, ray-cast PIP vs half-plane oracle on
random convex polygons, colormap monotonicity, extent folds, validation;
plus the driver-side GetTile render against its DataFrame witness on the
shared test session.
"""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geotrellis_server_spark.engine import Engine, Layer
from geotrellis_server_spark.geometry.pip import points_in_ring
from geotrellis_server_spark.grids import cells as C
from geotrellis_server_spark.grids.layout import (
    Extent,
    ZoomedLayoutScheme,
    lonlat_to_mercator,
    tile_key_np,
)
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.styles.colormap import interpolated_colormap
from geotrellis_server_spark.validate import RequestValidationError, validate_get_tile

lon_st = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
lat_st = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
zoom_st = st.integers(min_value=0, max_value=16)


@settings(max_examples=200, deadline=None)
@given(lon_st, lat_st, zoom_st)
def test_tile_key_in_range_and_contains_point(lon, lat, zoom):
    tx, ty = tile_key_np(np.array([lon]), np.array([lat]), zoom)
    n = 1 << zoom
    assert 0 <= tx[0] < n and 0 <= ty[0] < n
    # the point's mercator coords fall inside (or on the boundary of) the
    # tile extent, modulo clamping at world edges
    layout = ZoomedLayoutScheme().layout(zoom)
    e = layout.extent_for(int(tx[0]), int(ty[0]))
    mx, my = lonlat_to_mercator(np.array([lon]), np.array([lat]))
    eps = layout.tile_width * 1e-9 + 1e-6
    assert e.xmin - eps <= mx[0] <= e.xmax + eps
    assert e.ymin - eps <= my[0] <= e.ymax + eps


@settings(max_examples=200, deadline=None)
@given(lon_st, lat_st, st.integers(min_value=1, max_value=8))
def test_parent_cell_consistency(lon, lat, res):
    child = int(C.cell_key_np(np.array([lon]), np.array([lat]), res)[0])
    parent = int(C.cell_key_np(np.array([lon]), np.array([lat]), res - 1)[0])
    assert C.cell_parent(child, res, res - 1) == parent


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(min_value=0.0, max_value=2 * math.pi, allow_nan=False), min_size=3, max_size=9),
    st.floats(min_value=5.0, max_value=40.0),
    st.lists(st.tuples(lon_st, lat_st), min_size=1, max_size=30),
)
def test_raycast_matches_halfplane_on_convex(angles, radius, pts):
    """Random convex polygon (sorted angles around a center) — ray casting
    must agree with the half-plane conjunction away from boundary noise."""
    angles = sorted(set(angles))
    if len(angles) < 3:
        return
    cx, cy = 10.0, 5.0
    ring = [(cx + radius * math.cos(a), cy + radius * math.sin(a) * 0.5) for a in angles]
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    got = points_in_ring(lon, lat, ring)
    # half-plane oracle (CCW ring)
    exp = np.ones(len(pts), dtype=bool)
    margin = np.full(len(pts), np.inf)
    for i in range(len(ring)):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % len(ring)]
        cross = (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1)
        exp &= cross >= 0
        margin = np.minimum(margin, np.abs(cross))
    # ignore points within FP noise of an edge
    decisive = margin > 1e-9
    assert (got[decisive] == exp[decisive]).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=2, max_size=40))
def test_interpolated_colormap_channelwise_monotone_inputs(vals):
    poles = {0.0: (0, 0, 0, 255), 100.0: (200, 100, 50, 255)}
    out = interpolated_colormap(np.array(vals), poles)
    v = np.clip(np.array(vals), 0, 100)
    order = np.argsort(v)
    for ch, top in enumerate((200, 100, 50)):
        chan = out[order, ch].astype(int)
        assert (np.diff(chan) >= -1).all()  # monotone up to rounding
        assert chan.max() <= top


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-100, 100, allow_nan=False), st.floats(-100, 100, allow_nan=False),
            st.floats(0.01, 50, allow_nan=False), st.floats(0.01, 50, allow_nan=False),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_extent_fold_properties(boxes):
    exts = [Extent(x, y, x + w, y + h) for x, y, w, h in boxes]
    u = exts[0]
    for e in exts[1:]:
        u = u.combine(e)
    for e in exts:  # union covers every member
        assert u.xmin <= e.xmin and u.xmax >= e.xmax
        assert u.ymin <= e.ymin and u.ymax >= e.ymax
    i = exts[0]
    for e in exts[1:]:
        i = i.intersection(e) if i is not None else None
    if i is not None:  # intersection inside every member
        for e in exts:
            assert i.xmin >= e.xmin - 1e-9 and i.xmax <= e.xmax + 1e-9


@settings(max_examples=100, deadline=None)
@given(st.integers(-5, 35), st.integers(-10, 10**7), st.integers(-10, 10**7))
def test_validate_get_tile_total(z, x, y):
    n_ok = 0 <= z <= 30 and 0 <= x < (1 << z if z <= 30 else 0) and 0 <= y < (1 << z if z <= 30 else 0)
    try:
        validate_get_tile(z, x, y)
        assert n_ok
    except RequestValidationError as e:
        assert not n_ok
        assert e.errors


@given(
    st.floats(min_value=-84.0, max_value=84.0),
    st.floats(min_value=-39.99, max_value=39.99),
)
@settings(max_examples=200, deadline=None)
def test_property_tm_roundtrip(lat, dlon):
    # Karney TM forward∘inverse = identity to micro-degree precision for
    # any point within ±40° of the central meridian
    import numpy as np

    from geotrellis_server_spark.grids import proj

    lon0 = -75.0
    e, n = proj.tm_forward(np.array([lon0 + dlon]), np.array([lat]), lon0)
    lo, la = proj.tm_inverse(e, n, lon0)
    assert abs(lo[0] - (lon0 + dlon)) < 1e-9
    assert abs(la[0] - lat) < 1e-9


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=4096),
       st.integers(min_value=16, max_value=257),
       st.integers(min_value=7, max_value=64),
       st.lists(st.tuples(st.integers(min_value=0, max_value=4095),
                          st.integers(min_value=1, max_value=512)),
                min_size=1, max_size=10))
def test_caching_range_reader_equals_plain_reads(data, header, chunk, reads):
    from geotrellis_server_spark.sources.rangereader import (
        BytesRangeReader,
        CachingRangeReader,
    )

    r = CachingRangeReader(BytesRangeReader(data), header_bytes=header,
                           chunk_bytes=chunk, max_chunks=3)
    for off, ln in reads:
        assert r.read(off, ln) == data[off:off + ln]


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=2, max_value=3),
       st.integers(min_value=9, max_value=24),
       st.integers(min_value=9, max_value=24),
       st.integers(min_value=40, max_value=95),
       st.integers(min_value=0, max_value=10**9))
def test_jpeg_roundtrip_psnr_property(channels_sel, h, w, quality, seed):
    # random images, sizes and qualities: encode→decode must parse and
    # stay within lossy-JPEG fidelity (smooth content ⇒ higher PSNR)
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (h, w), dtype=np.uint8)
    # smooth it: JPEG's guarantee is about low-frequency content
    smooth = (base.astype(np.float64) + np.roll(base, 1, 0) + np.roll(base, 1, 1)
              + np.roll(base, -1, 0) + np.roll(base, -1, 1)) / 5.0
    if channels_sel == 3:
        img = np.stack([smooth, np.flipud(smooth), np.fliplr(smooth)],
                       axis=-1).astype(np.uint8)
    else:
        img = smooth.astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality))
    assert out.shape == img.shape
    mse = np.mean((out.astype(np.float64) - img.astype(np.float64)) ** 2)
    psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
    assert psnr > 20.0, (h, w, quality, psnr)  # q40 on noisy content ~21.6


SERVE_EXPRS = {
    "plain": None,
    "local": lambda v: M.var(v) * 2.0 - 1.0,
    "fmean_r1": lambda v: M.focal("fmean", M.var(v), radius=1),
    "fmax_r2": lambda v: M.focal("fmax", M.var(v), radius=2),
    "fmedian_r1": lambda v: M.focal("fmedian", M.var(v), radius=1),
    "rescale": lambda v: M.rescale(M.var(v), 0.0, 10.0),
    "two_var": lambda v: M.focal("fsum", M.var("a"), radius=1) / M.var("b"),
}


@settings(max_examples=10, deadline=None)
@given(st.sampled_from(sorted(SERVE_EXPRS)),
       st.integers(min_value=2, max_value=5), st.integers(min_value=2, max_value=5),
       st.sets(st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=16),
       st.tuples(st.integers(0, 3), st.integers(0, 3)),
       st.integers(min_value=0, max_value=10**6))
def test_get_tile_png_equals_dataframe_witness(spark, kind, w, h, present, key, seed):
    """Random tile sizes, sparse z2 grids (world edges included), NaN and
    NULL holes, absent keys: the driver path's PNG is the bytes the
    DataFrame path renders for the key, or None where it has no row."""
    rng = np.random.default_rng(seed)
    rows = []
    for x, y in sorted(present):
        c = rng.integers(0, 5, w * h).astype(float)
        hole = rng.random(w * h) < 0.25
        rows.append((2, x, y, 0, w, h, [None if hole[i] and i % 2 else
                                        float("nan") if hole[i] else v
                                        for i, v in enumerate(c.tolist())]))
    tiles = spark.createDataFrame(rows, "zoom INT, tile_x BIGINT, tile_y BIGINT, "
                                        "band INT, width INT, height INT, cells ARRAY<DOUBLE>")
    make = SERVE_EXPRS[kind]
    # b: the same keys minus one, so the two-var inner join can be empty
    b = tiles.filter(~((F.col("tile_x") == key[0]) & (F.col("tile_y") == 0)))
    layer = Layer("v", tiles, expression=make("v") if make else None,
                  sources={"a": tiles, "b": b} if kind == "two_var" else {})
    eng = Engine(spark, {"v": layer})
    want = eng.render_png(eng.get_tile("v", 2, *key)).collect()
    assert eng.get_tile_png("v", 2, *key) == (bytes(want[0].png) if want else None)
