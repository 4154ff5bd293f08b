"""Pin the JVM (codegen) cell expressions in operators/tiles.py to the
numpy reference kernels in functions/cells.py.

The raster<->vector join computes cell math once per (way node x zoom),
so tiles.py mirrors cells.py's Morton encode / tile encode / parent as
Column-API expressions. These tests feed the same random inputs to
both implementations, as column names and as Column inputs, and
require bit-exact agreement, so either side can change only in
lockstep.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from topo2osm_spark.functions import cells
from topo2osm_spark.operators import tiles
from topo2osm_spark.operators.tiles import (VECTOR_RES, cell_at_res_expr,
                                            parent_cell_expr, tile_cell_expr)

# every expression is checked with column-name (SQL fragment) inputs
# and with Column inputs
as_name = pytest.mark.parametrize("arg", [str, F.col], ids=["name", "col"])


def _col(spark, df_rows, schema, expr, alias="v"):
    df = spark.createDataFrame(df_rows, schema)
    return [r[alias] for r in df.select(expr.alias(alias)).collect()]


@as_name
def test_tile_cell_expr_matches_numpy(spark, arg):
    rng = np.random.default_rng(11)
    z = rng.integers(0, 15, 200)
    x = np.array([rng.integers(0, 2**int(zz)) for zz in z])
    y = np.array([rng.integers(0, 2**int(zz)) for zz in z])
    want = cells.cell_from_tile(z, x, y).tolist()
    got = _col(spark,
               [(int(a), int(b), int(c)) for a, b, c in zip(z, x, y)],
               "z int, x int, y int",
               tile_cell_expr(arg("z"), arg("x"), arg("y")))
    assert got == want


@as_name
def test_cell_at_res_expr_matches_numpy(spark, arg):
    rng = np.random.default_rng(12)
    lat = rng.uniform(-84.9, 84.9, 300)
    lon = rng.uniform(-180, 180, 300)
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)]
    for res in (0, 7, VECTOR_RES):
        want = cells.encode(lat, lon, res).tolist()
        got = _col(spark, rows, "lat double, lon double",
                   cell_at_res_expr(arg("lat"), arg("lon"), res))
        assert got == want


@as_name
def test_cell_at_res_expr_clamps_poles(spark, arg):
    lat = np.array([89.9, -89.9, cells.MAX_LAT, -cells.MAX_LAT])
    lon = np.array([10.0, 10.0, 179.999999, -180.0])
    want = cells.encode(lat, lon, VECTOR_RES).tolist()
    got = _col(spark, [(float(a), float(b)) for a, b in zip(lat, lon)],
               "lat double, lon double",
               cell_at_res_expr(arg("lat"), arg("lon"), VECTOR_RES))
    assert got == want


@as_name
def test_parent_cell_expr_matches_numpy(spark, arg):
    rng = np.random.default_rng(13)
    lat = rng.uniform(-84.9, 84.9, 200)
    lon = rng.uniform(-180, 180, 200)
    fine = cells.encode(lat, lon, VECTOR_RES)
    z = rng.integers(0, VECTOR_RES + 1, 200)
    want = cells.parent(fine, z).tolist()
    got = _col(spark,
               [(int(c), int(t)) for c, t in zip(fine, z)],
               "cell long, z int", parent_cell_expr(arg("cell"), arg("z")))
    assert got == want


def test_parent_expr_codegen_no_python(spark):
    # the whole expression must stay JVM-side: no Python eval nodes
    df = spark.range(10).select(
        F.col("id").alias("z"),
        cell_at_res_expr("59.9", "10.7", VECTOR_RES).alias("cell"))
    df = df.select(parent_cell_expr("cell", "pmod(z, 15)").alias("p"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_codec_builds_without_sql_parser(monkeypatch):
    # Column inputs must never reach F.expr: the codec is built as an
    # expression tree, not as SQL text for the JVM parser
    def no_expr(*a, **k):
        raise AssertionError("F.expr called with Column inputs")
    monkeypatch.setattr(tiles.F, "expr", no_expr)
    tile_cell_expr(F.col("z"), F.col("x"), F.col("y"))
    cell_at_res_expr(F.col("lat"), F.col("lon"), VECTOR_RES)
    tiles.cell_at_vector_res(F.col("lat"), F.col("lon"))
    parent_cell_expr(F.col("cell"), F.col("z"))


def test_tile_join_strategies_identical(spark):
    """The doc_id-shuffle join returns exactly the (doc, tile, cell,
    way) rows where the cell's numpy ancestor (cells.parent) at the
    tile's zoom is the tile's cell, in the same document."""
    from topo2osm_spark.operators.tiles import parse_media_refs, tile_vector_join
    rng = np.random.default_rng(7)
    lat = rng.uniform(58.0, 63.0, 300)
    lon = rng.uniform(4.0, 12.0, 300)
    vc_rows = [(f"d{i % 20}", i, int(c))
               for i, c in enumerate(cells.encode(lat, lon, VECTOR_RES))]
    vcells = spark.createDataFrame(vc_rows, "doc_id string, way_id long, cell long")
    # media tiles covering some of those points at mixed zooms + misses
    media_rows = []
    for i in range(0, 300, 7):
        z = int(rng.integers(8, VECTOR_RES + 1))
        n = 1 << z
        x = int((lon[i] + 180.0) / 360.0 * n)
        y = int((1.0 - np.arcsinh(np.tan(np.radians(lat[i]))) / np.pi) / 2.0 * n)
        media_rows.append((f"d{i % 20}", f"tile/{z}/{x}/{y}"))
    media_rows += [("d3", "tile/9/0/0"), ("d5", "not-a-tile")]
    # malformed refs are dropped, not raised on: x overflows the int
    # spread, x overflows int itself, x >= 2^z
    bad = ["tile/12/99999/1", "tile/10/99999999999/1", "tile/12/5000/1"]
    media_rows += [(f"d{i}", ref) for i, ref in enumerate(bad)]
    media = parse_media_refs(
        spark.createDataFrame(media_rows, "doc_id string, media_ref string"))
    assert not {r["media_ref"] for r in media.collect()} & set(bad)
    key = lambda rows: sorted((r["doc_id"], r["media_ref"], r["cell_id"], r["way_id"])
                              for r in rows)
    a = key(tile_vector_join(media, vcells).collect())
    want = sorted({(d, m["media_ref"], c, w)
                   for m in media.collect() for d, w, c in vc_rows
                   if d == m["doc_id"]
                   and int(cells.parent(c, m["z"])) == m["tile_cell"]})
    assert a and a == want
    assert not {r[1] for r in a} & set(bad)
