import numpy as np
import pytest

from topo2osm_spark.functions import cells


def test_morton_roundtrip():
    rng = np.random.default_rng(42)
    ix = rng.integers(0, 2**29, 1000).astype(np.uint64)
    iy = rng.integers(0, 2**29, 1000).astype(np.uint64)
    c = cells.from_xy(ix, iy, 29)
    rx, ry, rr = cells.to_xy(c)
    assert np.array_equal(rx, ix)
    assert np.array_equal(ry, iy)
    assert np.all(rr == 29)
    assert np.all(c >= 0)  # fits LongType


def test_encode_decode_latlon():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-80, 80, 500)
    lon = rng.uniform(-180, 180, 500)
    for res in (5, 12, 20, 29):
        c = cells.encode(lat, lon, res)
        s, n, w, e = cells.cell_bounds(c)
        assert np.all(lat >= s - 1e-9) and np.all(lat <= n + 1e-9)
        assert np.all(lon >= w - 1e-9) and np.all(lon <= e + 1e-9)
        assert np.all(cells.resolution(c) == res)


def test_parent_child():
    lat = np.array([59.91, 63.43, 70.0])
    lon = np.array([10.75, 10.39, 25.0])
    fine = cells.encode(lat, lon, 20)
    coarse = cells.encode(lat, lon, 12)
    assert np.array_equal(cells.parent(fine, 12), coarse)
    # children of parent contain the original path prefix
    for c in cells.encode(lat, lon, 10):
        kids = cells.children(int(c))
        assert len(set(kids.tolist())) == 4
        assert np.all(cells.parent(kids, 10) == c)


def test_tile_alignment():
    # slippy tile containing Oslo at z=12 (public formula)
    import math
    lat, lon, z = 59.9139, 10.7522, 12
    n = 2**z
    xt = int((lon + 180.0) / 360.0 * n)
    yt = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    c_tile = cells.cell_from_tile(np.array([z]), np.array([xt]), np.array([yt]))
    c_pt = cells.encode(np.array([lat]), np.array([lon]), z)
    assert c_tile[0] == c_pt[0]
    zz, xx, yy = cells.cell_to_tile(c_tile)
    assert (zz[0], xx[0], yy[0]) == (z, xt, yt)
    # a res-20 cell of the same point truncates to the same tile
    assert cells.parent(cells.encode(np.array([lat]), np.array([lon]), 20), z)[0] == c_tile[0]


def test_neighbors():
    c = cells.encode(np.array([59.9]), np.array([10.7]), 15)
    nb = cells.neighbors(c)
    assert nb.shape == (1, 9)
    assert len(set(nb[0].tolist())) == 9  # interior cell: all distinct
    assert c[0] in nb[0]
    # neighbors are adjacent in xy
    ix, iy, _ = cells.to_xy(nb[0])
    cx, cy, _ = cells.to_xy(c)
    assert np.all(np.abs(ix.astype(np.int64) - int(cx[0])) <= 1)
    assert np.all(np.abs(iy.astype(np.int64) - int(cy[0])) <= 1)


def test_covering_cells():
    cov = cells.covering_cells(59.0, 59.1, 10.0, 10.2, 10)
    assert len(cov) >= 1
    # the center point's cell is in the cover
    c = cells.encode(np.array([59.05]), np.array([10.1]), 10)
    assert c[0] in cov
    with pytest.raises(ValueError):
        cells.covering_cells(0, 80, -170, 170, 20)

