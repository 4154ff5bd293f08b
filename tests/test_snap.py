"""The kNN tolerance snap (operators/nodes.snap_mapping) against a
pure-Python union-find on seeded random clusters, and on a chain whose
ids are not monotone along it."""

import math
import random

import pytest

from topo2osm_spark.operators import nodes as nodeops

_M = 111320.0  # metres per degree, as in nodes.py
TOL_M = 0.5


def _clusters(seed: int = 7, n: int = 50):
    """`n` chains and stars of 2-6 nodes, neighbours 0.1-0.45 m apart,
    on a grid of centres 20 m apart (clusters stay >= 10 m apart), with
    shuffled node ids."""
    rng = random.Random(seed)
    pts = []
    for c in range(n):
        lat0 = 60.0 + (c // 10) * 20.0 / _M
        lon0 = 10.0 + (c % 10) * 20.0 / (_M * math.cos(math.radians(lat0)))
        star = rng.random() < 0.5
        cluster = [(lat0, lon0)]
        for _ in range(rng.randint(1, 5)):
            base = cluster[0] if star else cluster[-1]
            d, a = rng.uniform(0.1, 0.45), rng.uniform(0.0, 2 * math.pi)
            lat = base[0] + d * math.sin(a) / _M
            lon = base[1] + d * math.cos(a) / (
                _M * math.cos(math.radians(base[0])))
            cluster.append((lat, lon))
        pts.extend(cluster)
    ids = rng.sample(range(1, 10 * len(pts)), len(pts))
    return [(i, lat, lon) for i, (lat, lon) in zip(ids, pts)]


def _union_find_mapping(rows):
    """{node: component min} for every node that is not its component's
    min, with an edge wherever the planar distance is within TOL_M."""
    parent = {i: i for i, _, _ in rows}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, (i, lat_i, lon_i) in enumerate(rows):
        for j, lat_j, lon_j in rows[a + 1:]:
            dy = (lat_i - lat_j) * _M
            dx = ((lon_i - lon_j) * _M
                  * math.cos(math.radians((lat_i + lat_j) / 2.0)))
            if dy * dy + dx * dx <= TOL_M * TOL_M:
                ri, rj = find(i), find(j)
                parent[max(ri, rj)] = min(ri, rj)
    return {i: find(i) for i, _, _ in rows if find(i) != i}


@pytest.mark.parametrize("seed", range(10))
def test_snap_matches_union_find(spark, seed):
    rows = _clusters(seed=seed)
    want = _union_find_mapping(rows)
    assert len(want) > 100  # most nodes merge into their cluster's min
    raw = spark.createDataFrame(rows, "node_id long, lat double, lon double")
    got = {r["node_id"]: r["canon_id"] for r in
           nodeops.snap_mapping(raw, tol_m=TOL_M, max_abs_lat=72.0).collect()}
    assert got == want


def test_snap_carries_canon_coords(spark):
    """Each mapping row carries its canon's own input coordinate."""
    rows = _clusters()
    coords = {i: (lat, lon) for i, lat, lon in rows}
    raw = spark.createDataFrame(rows, "node_id long, lat double, lon double")
    got = nodeops.snap_mapping(raw, tol_m=TOL_M, max_abs_lat=72.0).collect()
    assert got
    assert all((r["c_lat"], r["c_lon"]) == coords[r["canon_id"]] for r in got)


def test_snap_chain_with_shuffled_ids_has_one_canon(spark):
    """A 5-node chain 0.4 m apart whose min id sits at one end and the
    next-smallest at the other: every node maps to the min, none is
    left as a second canon."""
    dlat = 0.4 / _M
    ids = [1, 50, 40, 30, 2]
    chain = spark.createDataFrame(
        [(i, 60.0 + k * dlat, 10.0) for k, i in enumerate(ids)],
        "node_id long, lat double, lon double")
    m = {(r["node_id"], r["canon_id"]) for r in
         nodeops.snap_mapping(chain, tol_m=TOL_M, max_abs_lat=72.0).collect()}
    assert m == {(2, 1), (30, 1), (40, 1), (50, 1)}


def test_snap_plan_stays_small(spark):
    """The snap map, canon coordinates included, is one candidate search
    and one grouped call: its analyzed plan is 21 lines."""
    raw = spark.createDataFrame(_clusters(),
                                "node_id long, lat double, lon double")
    m = nodeops.snap_mapping(raw, tol_m=TOL_M, max_abs_lat=72.0)
    n_lines = len(m._jdf.queryExecution().analyzed().treeString().splitlines())
    assert n_lines < 30, f"snap map analyzed plan has {n_lines} lines"
