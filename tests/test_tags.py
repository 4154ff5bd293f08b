"""The OBJTYPE -> tag lookup (operators/tags.py) against its table."""

from topo2osm_spark.operators import tags


def _looked_up(spark, rows):
    df = spark.createDataFrame(rows, "objtype string, geom_kind string")
    return df, [(r["objtype"], r["geom_kind"], r["tags"], r["emit"])
                for r in tags.join_tags(df, spark).collect()]


def test_every_table_row_looked_up(spark):
    """Each TAG_TABLE row gets exactly its own tag map; rows with None
    tags get {} and emit=false."""
    _, got = _looked_up(spark, [(ot, gk) for ot, gk, _ in tags.TAG_TABLE])
    want = [(ot, gk, dict(t) if t is not None else {}, t is not None)
            for ot, gk, t in tags.TAG_TABLE]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_misses_are_empty_and_not_emitted(spark):
    """An unknown objtype, a known objtype with another geom_kind, and a
    null in either key part all read {} and emit=false."""
    rows = [("NoSuchType", "FLATE"), ("Skog", "KURVE"), ("Sti", "FLATE"),
            (None, "KURVE"), ("Sti", None), (None, None)]
    _, got = _looked_up(spark, rows)
    assert sorted(got, key=repr) == sorted(
        [(ot, gk, {}, False) for ot, gk in rows], key=repr)


def test_lookup_is_a_column_expression(spark):
    """The lookup plans no join and no broadcast: it is a projection
    over the caller's rows."""
    df, _ = _looked_up(spark, [("Skog", "FLATE")])
    qe = tags.join_tags(df, spark)._jdf.queryExecution()
    assert "Join" not in qe.optimizedPlan().treeString()
    assert "BroadcastExchange" not in qe.executedPlan().treeString()
