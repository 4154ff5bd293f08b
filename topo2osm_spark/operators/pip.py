"""Point-in-polygon membership join (SURVEY.md §2 op 14).

Replaces the reference's shapely-style containment checks
[U: topo2osm.py::inside_polygon; mount empty, SURVEY.md §0] with the
partition-based spatial join: both sides encode to quadtree cells,
equi-join on the cell id (stock SMJ/SHJ — Catalyst handles it), then
a numpy ray-cast refines candidates per ring group.

One hit set, two consumers: the pipeline runs pip_join once per
conversion and materializes its hole-aware hit set (hits joined with
ring metadata); both FLATE interior-point -> assembled-ring membership
(attribute assignment) and the island-in-water containment hierarchy
(multipolygon roles) read that one set.

Candidate generation is JVM Column expressions on the tiles.py codec;
the refine is the only Python boundary. Each ring is covered at its own
resolution: the finest in the literal range COVER_RES (z10-z21) at
which its bbox spans at most COVER_SIDE cells per side. A small ring's
cover is then close to its bbox, so its candidates are the points in
or near it rather than every point sharing one coarse cell, and a
fjord-length coastline ring cannot fan out into millions of join keys
(only rings wider than COVER_SIDE cells at the range floor exceed
COVER_SIDE^2 cells). A point's cells over the
same range are shifts of its one finest-resolution cell id, so it meets
a ring's cover at whichever resolution the ring chose. The join key is
a 64-bit int; hot-cell skew is handled by AQE skew join + the salted
refine (pip_join's refine_salt).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from topo2osm_spark.functions import geom
from topo2osm_spark.operators import tiles

COVER_RES = range(10, 22)  # resolutions of ring covers and point ladders
COVER_SIDE = 8  # max cover cells per bbox side (above the range floor)
_FINE = COVER_RES[-1]


def ring_cover_cells(rings: DataFrame, ring_key_cols: list[str]) -> DataFrame:
    """rings(lats, lons, <keys>) -> (cell, <keys>) cover rows.

    Per ring, every cell intersecting its bbox at the finest resolution
    r in COVER_RES where the bbox spans at most COVER_SIDE cells per
    side (cells.covering_cells(bbox, r)); the floor of COVER_RES if
    none does. The bbox corners are indexed once at the finest
    resolution; a coarser index is a right shift. A ring with no
    coordinates has no cover."""
    x0, y0 = tiles.cell_index_expr(F.array_max("lats"), F.array_min("lons"),
                                   _FINE)
    x1, y1 = tiles.cell_index_expr(F.array_min("lats"), F.array_max("lons"),
                                   _FINE)
    b = rings.where(F.size("lats") > 0).select(
        *ring_key_cols, x0.alias("__x0"), x1.alias("__x1"),
        y0.alias("__y0"), y1.alias("__y1"))

    def fits(r: int) -> Column:
        k = _FINE - r
        return ((F.shiftright("__x1", k) - F.shiftright("__x0", k)
                 < COVER_SIDE)
                & (F.shiftright("__y1", k) - F.shiftright("__y0", k)
                   < COVER_SIDE))
    res = F.coalesce(*[F.when(fits(r), F.lit(r)) for r in COVER_RES[::-1]],
                     F.lit(COVER_RES[0]))
    b = b.withColumn("__res", res)

    def at_res(c: str) -> Column:
        return F.call_function("shiftright", F.col(c),
                               F.lit(_FINE) - F.col("__res"))
    cov = b.select(*ring_key_cols, "__res",
                   F.explode(F.sequence(at_res("__x0"), at_res("__x1")))
                   .alias("__x"),
                   at_res("__y0").alias("__y0"), at_res("__y1").alias("__y1"))
    cov = cov.select(*ring_key_cols, "__res", "__x",
                     F.explode(F.sequence("__y0", "__y1")).alias("__y"))
    return cov.select(tiles.tile_cell_expr(F.col("__res"), F.col("__x"),
                                           F.col("__y")).alias("cell"),
                      *ring_key_cols)


def _ladder(cell: Column) -> Column:
    """A finest-resolution cell id -> its ancestors at every resolution
    of COVER_RES (array<long>)."""
    return F.array(*[tiles.parent_cell_expr(cell, F.lit(r))
                     for r in COVER_RES])


def point_cell_ladder(lat: str | Column, lon: str | Column) -> Column:
    """Point side: the point's cell at every resolution of COVER_RES
    (array<long>), so it matches a ring cover at whatever resolution
    the ring chose. The cell id is computed once, at the finest
    resolution, and bound by a one-element transform: inlining it into
    each ladder entry would copy its asinh/tan index tree 12 times into
    the expression (each Morton spread step already references its
    input twice)."""
    return F.flatten(F.transform(
        F.array(tiles.cell_at_res_expr(lat, lon, _FINE)), _ladder))


REFINE_SALT = 16  # candidate chunks per ring (bounds the refine row size)


def pip_join(points: DataFrame, rings: DataFrame,
             point_key_cols: list[str], ring_key_cols: list[str],
             refine_salt: int = REFINE_SALT) -> DataFrame:
    """Candidate generation (cell equi-join) + exact ray-cast refine.

    points: (<point_keys>, lat, lon); rings: (<ring_keys>, lats, lons).
    Returns (<point_keys>, <ring_keys>) rows where the point is inside.

    The refine key is SALTED: a hot ring (sea polygon / fjord coastline
    matching millions of candidate points) would otherwise concentrate
    its whole candidate set into one collect_set row -> one straggler
    task / OOM. pmod(xxhash64(point keys), refine_salt) splits a ring's
    candidates into bounded chunks; the ray-cast is per-point
    independent, so chunk results union cleanly. Cost: ring coords
    replicate per non-empty chunk (<= refine_salt copies).

    Candidates: each point explodes to its len(COVER_RES) ladder cells,
    each ring to its cover (ring_cover_cells), and the two meet on the
    cell id. A (point, ring) pair meets in at most one cell, the ring's
    resolution; collect_set drops the repeats that duplicate input rows
    would make, without a shuffle of its own. Everything before the
    refine is JVM expressions: no Python worker, and no broadcast (the
    merge hint keeps the planner from broadcasting a side it estimates
    small), so a lazy checkpoint of the hit set never waits for a
    broadcast job on its caller's thread. The point's finest cell id is
    its own column, so the ladder reads one attribute instead of
    inlining the codec 12 times (which overflowed whole-stage codegen).
    """
    cover = ring_cover_cells(rings, ring_key_cols)
    pts = (points.select(*point_key_cols, "lat", "lon")
           .withColumn("__c", tiles.cell_at_res_expr("lat", "lon", _FINE))
           .withColumn("cell", F.explode(_ladder(F.col("__c"))))
           .drop("__c"))
    cand = (pts.join(cover.hint("merge"), "cell").drop("cell")
            .withColumn("chunk", F.pmod(
                F.xxhash64(*point_key_cols), F.lit(max(1, refine_salt)))))
    # refine: one hash-agg row per (ring, chunk), join ring coords, then
    # batched mapInPandas ray-casting — no per-group Python round-trip
    # (same pattern as snap/assembly)
    ring_geo = rings.select(*ring_key_cols, "lats", "lons")
    grouped = (cand.groupBy(*ring_key_cols, "chunk")
               .agg(F.collect_set(F.struct(*point_key_cols, "lat", "lon"))
                     .alias("cand_pts"))
               .join(ring_geo, ring_key_cols))

    out_schema = T.StructType(
        [cand.schema[k] for k in point_key_cols]
        + [cand.schema[k] for k in ring_key_cols])

    def refine_batches(it):
        cols = [*point_key_cols, *ring_key_cols]
        for pdf in it:
            rows = {c: [] for c in cols}
            for i in range(len(pdf)):
                ring_lat = np.asarray(pdf["lats"].iloc[i], dtype=np.float64)
                ring_lon = np.asarray(pdf["lons"].iloc[i], dtype=np.float64)
                cand_pts = pdf["cand_pts"].iloc[i]
                plat = np.array([p["lat"] for p in cand_pts])
                plon = np.array([p["lon"] for p in cand_pts])
                inside = geom.points_in_ring(plat, plon, ring_lat, ring_lon)
                for j in np.nonzero(inside)[0]:
                    p = cand_pts[j]
                    for k in point_key_cols:
                        rows[k].append(p[k])
                    for k in ring_key_cols:
                        rows[k].append(pdf[k].iloc[i])
            yield pd.DataFrame(rows) if rows[cols[0]] else pd.DataFrame(
                {c: [] for c in cols})

    return grouped.mapInPandas(refine_batches, out_schema)
