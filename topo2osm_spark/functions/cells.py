"""Quadtree cell index (SURVEY.md §2 op 16) — numpy, no external libs.

A cell id is a 64-bit integer encoding (resolution, Morton-interleaved
Web-Mercator x/y). The grid at resolution r is exactly the slippy-map
tile grid at zoom z=r (2^r × 2^r tiles), so the raster↔vector join
(SURVEY.md §2 op 17) is a plain equi-join: tile {z}/{x}/{y} ==
cell_from_tile(z, x, y) == ancestor of any finer vector cell.

Layout (63 usable bits, id always >= 0 so it fits Spark LongType):
    bits 58..62 : resolution r (0..29)
    bits  0..57 : Morton interleave of (ix, iy), 29 bits each
                  (x bits in even positions, y bits in odd positions)

Replaces the reference's reliance on in-memory dict lookups and
shapely-style geometry (reference mount empty; see SURVEY.md §0) with
a distributable integer key: all spatial predicates in the engine
become cell-equi-joins refined by numpy.

Public knowledge only: Morton/Z-order "magic bits" spreading and the
Web-Mercator tiling scheme are textbook (OpenStreetMap slippy tiles).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29
_RES_SHIFT = np.uint64(58)
_MORTON_MASK = np.uint64((1 << 58) - 1)

# Web-Mercator latitude clamp (same as slippy tiles).
MAX_LAT = 85.05112877980659


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of uint64 v so bit i lands at bit 2*i
    (standard 2D Morton part1by1 magic numbers)."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x1FFFFFFF)  # 29 bits
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather bits at even positions."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_norm(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 lon/lat (deg) -> normalized Web-Mercator [0,1)² (x east, y south)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = (lon + 180.0) / 360.0
    lat_rad = np.radians(lat)
    y = (1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0
    return x, y


def encode(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """lat/lon (deg) -> int64 cell id at resolution res."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = lonlat_to_norm(np.asarray(lon), np.asarray(lat))
    n = np.uint64(1) << np.uint64(res)
    nf = float(2**res)
    ix = np.minimum((x * nf).astype(np.uint64), n - np.uint64(1))
    iy = np.minimum((y * nf).astype(np.uint64), n - np.uint64(1))
    return from_xy(ix, iy, res)


def from_xy(ix: np.ndarray, iy: np.ndarray, res) -> np.ndarray:
    """(ix, iy, res) -> int64 cell id. res may be scalar or array."""
    res_arr = np.asarray(res, dtype=np.uint64)
    morton = _spread_bits(np.asarray(ix)) | (_spread_bits(np.asarray(iy)) << np.uint64(1))
    return ((res_arr << _RES_SHIFT) | morton).astype(np.int64)


def to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell id -> (ix, iy, res) uint64 arrays."""
    c = np.asarray(cell).astype(np.uint64)
    res = c >> _RES_SHIFT
    morton = c & _MORTON_MASK
    return _compact_bits(morton), _compact_bits(morton >> np.uint64(1)), res


def resolution(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) >> _RES_SHIFT).astype(np.int64)


def parent(cell: np.ndarray, parent_res) -> np.ndarray:
    """Ancestor cell at coarser resolution parent_res (scalar or array)."""
    c = np.asarray(cell).astype(np.uint64)
    res = c >> _RES_SHIFT
    pres = np.asarray(parent_res, dtype=np.uint64)
    dr = (res - pres).astype(np.uint64)
    morton = (c & _MORTON_MASK) >> (np.uint64(2) * dr)
    return ((pres << _RES_SHIFT) | morton).astype(np.int64)


def children(cell: int) -> np.ndarray:
    """The 4 child cells one resolution finer (scalar helper)."""
    c = np.uint64(cell)
    res = c >> _RES_SHIFT
    morton = c & _MORTON_MASK
    base = ((res + np.uint64(1)) << _RES_SHIFT) | (morton << np.uint64(2))
    return (base + np.arange(4, dtype=np.uint64)).astype(np.int64)


def neighbors(cell: np.ndarray, include_self: bool = True) -> np.ndarray:
    """3×3 neighborhood (k-ring 1) of each cell; x wraps, y clips.

    Returns array of shape (n, 9) (or (n, 8) without self). Clipped-y
    duplicates are kept (caller dedups after explode — cheaper than
    ragged output).
    """
    ix, iy, res = to_xy(cell)
    n = np.uint64(1) << res
    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
            if include_self or (dx, dy) != (0, 0)]
    cols = []
    for dx, dy in offs:
        nx = (ix.astype(np.int64) + dx) % n.astype(np.int64)  # wrap x
        ny = np.clip(iy.astype(np.int64) + dy, 0, (n - np.uint64(1)).astype(np.int64))
        cols.append(from_xy(nx.astype(np.uint64), ny.astype(np.uint64), res))
    return np.stack(cols, axis=1)


def cell_from_tile(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Slippy tile {z}/{x}/{y} -> cell id (identical grid by design)."""
    return from_xy(np.asarray(x, dtype=np.uint64),
                   np.asarray(y, dtype=np.uint64),
                   np.asarray(z, dtype=np.uint64))


def cell_to_tile(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (z, x, y) int64 arrays."""
    ix, iy, res = to_xy(cell)
    return res.astype(np.int64), ix.astype(np.int64), iy.astype(np.int64)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lat_south, lat_north, lon_west, lon_east) degrees."""
    ix, iy, res = to_xy(cell)
    nf = (np.uint64(1) << res).astype(np.float64)
    lon_w = ix.astype(np.float64) / nf * 360.0 - 180.0
    lon_e = (ix.astype(np.float64) + 1.0) / nf * 360.0 - 180.0

    def _lat(yn):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yn))))

    lat_n = _lat(iy.astype(np.float64) / nf)
    lat_s = _lat((iy.astype(np.float64) + 1.0) / nf)
    return lat_s, lat_n, lon_w, lon_e


def covering_cells(lat_min: float, lat_max: float, lon_min: float,
                   lon_max: float, res: int, cap: int = 4096) -> np.ndarray:
    """All cells at `res` intersecting the bbox (scalar oracle of the
    JVM ring cover, operators/pip.ring_cover_cells). Raises ValueError
    when the count exceeds `cap`."""
    x0, y1 = lonlat_to_norm(np.array([lon_min]), np.array([lat_min]))
    x1, y0 = lonlat_to_norm(np.array([lon_max]), np.array([lat_max]))
    nf = float(2**res)
    nmax = (1 << res) - 1
    ix0 = min(max(int(x0[0] * nf), 0), nmax)
    ix1 = min(max(int(x1[0] * nf), 0), nmax)
    iy0 = min(max(int(y0[0] * nf), 0), nmax)
    iy1 = min(max(int(y1[0] * nf), 0), nmax)
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
    if nx * ny > cap:
        raise ValueError(f"bbox covers {nx * ny} cells at res {res} > cap {cap}")
    gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1, dtype=np.uint64),
                         np.arange(iy0, iy1 + 1, dtype=np.uint64))
    return from_xy(gx.ravel(), gy.ravel(), res)

