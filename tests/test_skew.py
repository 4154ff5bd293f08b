"""Salting (SURVEY.md §2 op 41) and the salted PIP refine."""

from pyspark.sql import functions as F

from topo2osm_spark.operators import skew


def test_add_salt_deterministic(spark):
    df = spark.range(1000).withColumn("key", F.lit("hot"))
    s1 = skew.add_salt(df, ["id"], buckets=8).select("id", "salt").collect()
    s2 = skew.add_salt(df, ["id"], buckets=8).select("id", "salt").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    salts = {r["salt"] for r in s1}
    assert salts == set(range(8))  # hot key spread over all buckets


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
