"""Salting + adaptive cell splitting (SURVEY.md §2 ops 41, 42)."""

import pytest
from pyspark.sql import functions as F

from topo2osm_spark.operators import skew


def test_add_salt_deterministic(spark):
    df = spark.range(1000).withColumn("key", F.lit("hot"))
    s1 = skew.add_salt(df, ["id"], buckets=8).select("id", "salt").collect()
    s2 = skew.add_salt(df, ["id"], buckets=8).select("id", "salt").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    salts = {r["salt"] for r in s1}
    assert salts == set(range(8))  # hot key spread over all buckets


def test_salted_join_equals_plain_join(spark):
    """Salted equi-join (probe salted, build exploded) must produce the
    same rows as the plain join."""
    big = spark.range(500).withColumn("k", (F.col("id") % 3).cast("long"))
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, v string")
    plain = {(r["id"], r["v"]) for r in big.join(dim, "k").collect()}
    sb = skew.add_salt(big, ["id"], buckets=4)
    sd = skew.explode_salt(dim, buckets=4)
    salted = {(r["id"], r["v"]) for r in sb.join(sd, ["k", "salt"]).collect()}
    assert salted == plain


def test_pip_refine_salting_hot_ring(spark):
    """One hot ring matched by tens of thousands of candidate points
    must split across salted refine chunks (bounded rows), and the
    salted result must equal the exact ray-cast answer."""
    import numpy as np
    from topo2osm_spark.functions import geom
    from topo2osm_spark.operators.pip import pip_join

    # square ring around (60, 10), half-width 0.2 deg
    ring_lat = [59.8, 59.8, 60.2, 60.2, 59.8]
    ring_lon = [9.8, 10.2, 10.2, 9.8, 9.8]
    rng = np.random.default_rng(7)
    n = 30000
    plat = 59.7 + rng.random(n) * 0.6   # spans inside + outside
    plon = 9.7 + rng.random(n) * 0.6
    pts = spark.createDataFrame(
        [(int(i), float(a), float(o)) for i, (a, o) in enumerate(zip(plat, plon))],
        "pt_uid long, lat double, lon double")
    rings = spark.createDataFrame(
        [(1, ring_lat, ring_lon)],
        "ring_uid long, lats array<double>, lons array<double>")
    got = {r["pt_uid"]
           for r in pip_join(pts, rings, ["pt_uid"], ["ring_uid"],
                             refine_salt=16).collect()}
    expect = set(np.nonzero(geom.points_in_ring(
        plat, plon, np.array(ring_lat), np.array(ring_lon)))[0].tolist())
    assert got == expect
    assert len(expect) > 5000  # the hot ring really was hot


def test_adaptive_cell_split(spark):
    """Hot cells re-encode at finer resolution; cold cells keep theirs."""
    import numpy as np
    from topo2osm_spark.functions import cells
    hot_cell = int(cells.encode(np.array([60.0]), np.array([10.0]), 8)[0])
    cold_cell = int(cells.encode(np.array([65.0]), np.array([20.0]), 8)[0])
    rows = [(60.0 + i * 1e-4, 10.0 + i * 1e-4, hot_cell) for i in range(300)]
    rows += [(65.0, 20.0, cold_cell) for _ in range(5)]
    df = spark.createDataFrame(rows, "lat double, lon double, cell long")
    out = skew.adaptive_cell_split(df, threshold=100, extra_res=3).collect()
    hot_out = {r["cell"] for r in out if r["lat"] < 64}
    cold_out = {r["cell"] for r in out if r["lat"] > 64}
    assert cold_out == {cold_cell}
    assert hot_cell not in hot_out          # re-encoded
    assert len(hot_out) > 1                 # actually split
    recovered = {int(c) for c in
                 __import__("numpy").unique(
                     cells.parent(__import__("numpy").array(sorted(hot_out)), 8))}
    assert recovered == {hot_cell}          # children of the hot cell
