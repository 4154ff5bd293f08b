"""PIP candidate generation (SURVEY.md §2 op 14): the JVM point ladder
and ring cover against the numpy codec, and the whole join against a
brute-force ray-cast over every (point, ring) pair."""

import numpy as np

from topo2osm_spark.functions import cells, geom
from topo2osm_spark.operators import pip

RING_SCHEMA = "ring_uid long, lats array<double>, lons array<double>"
POINT_SCHEMA = "pt_uid long, lat double, lon double"


def _rings(seed: int = 3, n: int = 40) -> list[tuple[int, list, list]]:
    """Closed star-shaped rings over Norway, half-widths log-uniform
    from a quarter of a z21 cell to twice the COVER_SIDE-cell span at
    the range floor; every fifth one is an axis-aligned box, so points
    on its bbox edges lie on its edges."""
    rng = np.random.default_rng(seed)
    cell_deg = 360.0 / 2 ** pip.COVER_RES[-1]
    floor_span = pip.COVER_SIDE * 360.0 / 2 ** pip.COVER_RES[0]
    half = np.exp(rng.uniform(np.log(cell_deg / 4), np.log(floor_span), n))
    out = []
    for i in range(n):
        clat, clon = rng.uniform(58.0, 70.0), rng.uniform(5.0, 30.0)
        hlon, hlat = half[i], half[i] * rng.uniform(0.3, 1.0)
        if i % 5 == 0:
            lats = [clat - hlat, clat - hlat, clat + hlat, clat + hlat]
            lons = [clon - hlon, clon + hlon, clon + hlon, clon - hlon]
        else:
            k = int(rng.integers(3, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.3, 1.0, k)
            lats = (clat + hlat * rad * np.sin(ang)).tolist()
            lons = (clon + hlon * rad * np.cos(ang)).tolist()
        lats, lons = [float(a) for a in lats], [float(o) for o in lons]
        out.append((i, [*lats, lats[0]], [*lons, lons[0]]))
    # a second copy of the largest ring, shifted: two rings wider than
    # COVER_SIDE cells at the floor resolution
    big = int(np.argmax(half))
    out.append((n, [a + 1.0 for a in out[big][1]], list(out[big][2])))
    return out


def _points(rings, seed: int = 5) -> list[tuple[int, float, float]]:
    """Per ring: random points in its bbox grown by a tenth, its
    vertices, and points on each bbox edge and corner."""
    rng = np.random.default_rng(seed)
    pts = []
    for _, lats, lons in rings:
        la0, la1, lo0, lo1 = min(lats), max(lats), min(lons), max(lons)
        dla, dlo = (la1 - la0) * 0.1, (lo1 - lo0) * 0.1
        pts += list(zip(rng.uniform(la0 - dla, la1 + dla, 20),
                        rng.uniform(lo0 - dlo, lo1 + dlo, 20)))
        pts += list(zip(lats, lons))
        mla, mlo = rng.uniform(la0, la1), rng.uniform(lo0, lo1)
        pts += [(la0, mlo), (la1, mlo), (mla, lo0), (mla, lo1),
                (la0, lo0), (la0, lo1), (la1, lo0), (la1, lo1)]
    return [(i, float(a), float(o)) for i, (a, o) in enumerate(pts)]


def test_point_cell_ladder_matches_encode(spark):
    rng = np.random.default_rng(17)
    n = 30_000
    lat = rng.uniform(57.5, 71.5, n)
    lon = rng.uniform(4.0, 31.5, n)
    edges = [(a, o) for a in (-cells.MAX_LAT, 0.0, cells.MAX_LAT)
             for o in (-180.0, 0.0, 180.0)]
    lat = np.concatenate([lat, [a for a, _ in edges]])
    lon = np.concatenate([lon, [o for _, o in edges]])
    df = spark.createDataFrame(
        [(i, float(a), float(o)) for i, (a, o) in enumerate(zip(lat, lon))],
        POINT_SCHEMA)
    rows = df.select("pt_uid", pip.point_cell_ladder("lat", "lon")
                     .alias("ladder")).collect()
    got = np.array([r["ladder"] for r in sorted(rows)], dtype=np.int64)
    want = np.stack([cells.encode(lat, lon, r) for r in pip.COVER_RES],
                    axis=1)
    assert got.shape == want.shape
    for j, r in enumerate(pip.COVER_RES):
        assert np.array_equal(got[:, j], want[:, j]), f"res {r}"


def test_ring_cover_matches_covering_cells(spark):
    rings = _rings()
    df = spark.createDataFrame([*rings, (999, [], [])], RING_SCHEMA)
    cover: dict[int, list[int]] = {}
    for r in pip.ring_cover_cells(df, ["ring_uid"]).collect():
        cover.setdefault(r["ring_uid"], []).append(r["cell"])
    assert set(cover) == {uid for uid, _, _ in rings}  # empty ring: none
    floor, finest = pip.COVER_RES[0], pip.COVER_RES[-1]
    chosen = {}
    for uid, lats, lons in rings:
        got = np.array(cover[uid], dtype=np.int64)
        res = set(cells.resolution(got).tolist())
        assert len(res) == 1, f"ring {uid}: resolutions {res}"
        r = chosen[uid] = res.pop()
        bbox = (min(lats), max(lats), min(lons), max(lons))
        want = cells.covering_cells(*bbox, r, cap=1 << 20)
        assert sorted(got.tolist()) == sorted(want.tolist()), f"ring {uid}"
        assert len(got) == len(set(got.tolist()))
        if r > floor:
            assert len(got) <= pip.COVER_SIDE ** 2, f"ring {uid}"
        if r < finest:  # one resolution finer spans too many cells
            ix, iy, _ = cells.to_xy(cells.covering_cells(*bbox, r + 1,
                                                         cap=1 << 20))
            side = max(int(ix.max() - ix.min()), int(iy.max() - iy.min())) + 1
            assert side > pip.COVER_SIDE, f"ring {uid} at res {r}"
    # the seeded sizes reach both ends of the range
    assert finest in chosen.values()
    assert any(len(cover[u]) > pip.COVER_SIDE ** 2 for u, r in chosen.items()
               if r == floor)


def test_pip_join_matches_brute_force(spark):
    rings = _rings()
    pts = _points(rings)
    got = {(r["pt_uid"], r["ring_uid"]) for r in pip.pip_join(
        spark.createDataFrame(pts, POINT_SCHEMA),
        spark.createDataFrame(rings, RING_SCHEMA),
        ["pt_uid"], ["ring_uid"]).collect()}
    plat = np.array([a for _, a, _ in pts])
    plon = np.array([o for _, _, o in pts])
    want = set()
    for uid, lats, lons in rings:
        inside = geom.points_in_ring(plat, plon, np.array(lats),
                                     np.array(lons))
        want |= {(int(i), uid) for i in np.nonzero(inside)[0]}
    assert got == want
    assert len(want) > len(rings)  # every ring holds some of its points


def test_pip_plans_stay_small(spark):
    """The finest cell id is computed once: inlining it into each of the
    12 ladder entries made a ~12x larger expression tree that overflowed
    whole-stage codegen. Measured: pip_join 28.0k characters of analyzed
    plan, the ladder select 30.7k (one cell_at_res_expr tree is 25.7k;
    the inlined ladder made pip_join 185k). The refine is PIP's only
    Python boundary."""
    pts = spark.createDataFrame([(1, 60.0, 10.0)], POINT_SCHEMA)
    rings = spark.createDataFrame(_rings(n=2), RING_SCHEMA)
    join = pip.pip_join(pts, rings, ["pt_uid"], ["ring_uid"])
    ladder = pts.select(pip.point_cell_ladder("lat", "lon"))
    for name, df in (("pip_join", join), ("ladder", ladder)):
        plan = df._jdf.queryExecution().analyzed().treeString()
        assert len(plan) < 40_000, f"{name}: {len(plan)} characters"
    physical = join._jdf.queryExecution().executedPlan().toString()
    assert physical.count("MapInPandas") == 1
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow"):
        assert node not in physical
