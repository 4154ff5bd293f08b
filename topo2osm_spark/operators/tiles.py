"""Raster <-> vector tile/cell join (SURVEY.md §2 op 17).

Aligns `media_ref` tiles ("tile/{z}/{x}/{y}") to vector cells
(north star, BASELINE.json:6). Because the cell grid at resolution r
IS the slippy tile grid at zoom z=r (functions/cells.py), a tile
matches a vector cell exactly when the cell's ancestor at the tile's
zoom is the tile's cell:

    media side:  (z, x, y)  ->  tile_cell = cell_from_tile(z, x, y)
    vector side: way node cell at VECTOR_RES, ancestor at z

Tile zooms vary per media span (z in 10..14 here), so the join is an
equi-join on doc_id with the ancestor test as a codegen filter on the
joined row; dropDuplicates after the join keeps one row per match.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from topo2osm_spark.functions import cells

VECTOR_RES = 14  # finest tile zoom in the corpus; vector cells at this res

# ------------------------------------------------------------------
# JVM (codegen) mirrors of functions/cells.py — the raster<->vector
# join touches every way node times every zoom present, so its cell
# math must stay inside whole-stage codegen, not a Python worker.
# The codec is built as Column-API expression trees, never as SQL
# text: each magic-mask spread step references its input twice, so a
# SQL string of the spread holds 32 copies of its argument, and for
# cell_at_res_expr (whose argument is the whole floor(asinh(tan(...)))
# index) that made one ~11.8k-character nested string. Parsing it in
# a fresh JVM blocked the driver: the first parse_media_refs and
# cell_at_vector_res withColumn took 0.9 s each on a 1-row frame, 0.4
# and 0.2 s as Column trees (4-vCPU host); inside a whole conversion's
# plan the SQL text also left the driver JVM with 1.6 GB of G1 heap
# committed after one convert_coastal conversion vs 0.9-1.1 GB with
# the Column API (2 GB max heap). A Column tree shares the argument by
# reference instead of copying its text.
# Variable shifts (parent's 2*(res-z)) are exact integer division
# (`div`) by pow(2, k) cast to long — powers of two are exact in
# double far beyond 2^58, and `div` never rounds through a double.
# numpy kernels remain the mapInArrow-side implementation;
# test_tiles_jvm_cells pins both to the same values.

_RES_SHIFT_MUL = 1 << 58
_MORTON_MASK = (1 << 58) - 1
_SPREAD_STEPS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))


def _c(v: str | Column) -> Column:
    """A Column as is; a str is a SQL fragment (column name or expr)."""
    return v if isinstance(v, Column) else F.expr(v)


def _spread(v: Column) -> Column:
    """Spread the low 29 bits of long `v` to even bit positions
    (part1by1, same magic numbers as cells._spread_bits)."""
    v = v.bitwiseAND(F.lit(536870911))
    for sh, mask in _SPREAD_STEPS:
        v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(mask))
    return v


def _cell(res: Column, ix: Column, iy: Column) -> Column:
    """res << 58 | morton(ix, iy), for long ix/iy."""
    return (res.cast("long") * F.lit(_RES_SHIFT_MUL)
            + (_spread(ix) + F.lit(2) * _spread(iy)))


def tile_cell_expr(z: str | Column, x: str | Column,
                   y: str | Column) -> Column:
    """(z, x, y) tile -> cell id, JVM-side (cells.cell_from_tile)."""
    return _cell(_c(z), _c(x).cast("long"), _c(y).cast("long"))


def cell_index_expr(lat: str | Column, lon: str | Column,
                    res: int) -> tuple[Column, Column]:
    """(lat, lon) -> long grid indices (ix, iy) at LITERAL resolution
    res, clamped to [0, 2^res) (the indices cells.encode interleaves).
    Scaling by 2^res is exact, so the index at a coarser resolution r
    is this one shifted right by res - r."""
    n = 1 << res
    lat_c = F.greatest(F.least(_c(lat), F.lit(cells.MAX_LAT)),
                       F.lit(-cells.MAX_LAT))
    xn = (_c(lon) + F.lit(180.0)) / F.lit(360.0)
    yn = (F.lit(1.0) - F.asinh(F.tan(F.radians(lat_c))) / F.lit(math.pi)) \
        / F.lit(2.0)

    def index(v: Column) -> Column:
        return F.least(F.greatest(F.floor(v * F.lit(float(n))), F.lit(0)),
                       F.lit(n - 1))
    return index(xn), index(yn)


def cell_at_res_expr(lat: str | Column, lon: str | Column,
                     res: int) -> Column:
    """(lat, lon) -> cell id at LITERAL resolution res (cells.encode)."""
    return _cell(F.lit(res), *cell_index_expr(lat, lon, res))


def parent_cell_expr(cell: str | Column, z: str | Column) -> Column:
    """Ancestor of `cell` at coarser resolution column `z`
    (cells.parent). Variable shift via exact pow-of-two division."""
    cell_c, z_c = _c(cell), _c(z)
    res = F.shiftrightunsigned(cell_c, 58)
    morton = cell_c.bitwiseAND(F.lit(_MORTON_MASK))
    step = F.pow(F.lit(2.0), F.lit(2) * (res - z_c)).cast("long")
    return (z_c.cast("long") * F.lit(_RES_SHIFT_MUL)
            + F.call_function("div", morton, step))


def cell_at_vector_res(lat: str | Column, lon: str | Column) -> Column:
    return cell_at_res_expr(lat, lon, VECTOR_RES)


def parse_media_refs(media_spans: DataFrame) -> DataFrame:
    """(doc_id, media_ref) -> adds z/x/y ints and tile_cell. Malformed
    refs are dropped, never raised on: the captured digits are
    try_cast (an out-of-range number becomes null), and only tiles
    with z <= VECTOR_RES and x, y < 2^z are kept."""
    pat = r"^tile/(\d+)/(\d+)/(\d+)$"
    m = media_spans.where(F.col("media_ref").rlike(pat))
    for i, name in enumerate(("z", "x", "y"), 1):
        m = m.withColumn(
            name, F.regexp_extract("media_ref", pat, i).try_cast("int"))
    z, x, y = F.col("z"), F.col("x"), F.col("y")
    side = F.pow(F.lit(2), z)  # exact in double; digits are never < 0
    m = m.where((z <= VECTOR_RES) & (x < side) & (y < side))
    return m.withColumn("tile_cell", tile_cell_expr(z, x, y))


def tile_vector_join(media: DataFrame, vector_cells: DataFrame) -> DataFrame:
    """media: parse_media_refs output; vector_cells: (doc_id, way_id,
    cell) at VECTOR_RES. Returns (doc_id, media_ref, cell_id, way_id).

    A media span's tile is aligned with ITS OWN document's vector cells
    (the FIXTURES.md contract), so the output is O(media x
    cells-per-doc), linear in corpus size; deliberately non-overlapping
    tiles match nothing. Both sides shuffle once on doc_id with no zoom
    fan-out, and nothing corpus-sized is ever broadcast — the shape
    that survives a 10^12-doc table."""
    joined = (vector_cells.join(
                  media.select("doc_id", "media_ref", "z", "tile_cell"),
                  "doc_id")
              .where(parent_cell_expr("cell", "z") == F.col("tile_cell")))
    return (joined.select("doc_id", "media_ref",
                          F.col("cell").alias("cell_id"), "way_id")
                  .dropDuplicates(["doc_id", "media_ref", "cell_id", "way_id"]))
