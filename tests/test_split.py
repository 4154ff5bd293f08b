""">2000-node way splitting (OSM hard limit; SURVEY.md §7.3.2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _ways_df(spark, node_lists):
    rows = [(i + 1, list(map(int, ids)), True, True)
            for i, ids in enumerate(node_lists)]
    return spark.createDataFrame(
        rows, "way_id long, node_ids array<long>, closed boolean, emit boolean")


def test_split_preserves_short_ways(spark):
    from topo2osm_spark.operators.split import split_long_ways
    out = split_long_ways(_ways_df(spark, [range(10), range(50)]),
                          max_nodes=2000).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_parts"] == 1 and r["part"] == 0
        assert r["way_id"] == r["parent_way_id"]


def test_split_chains_share_junction_nodes(spark):
    from topo2osm_spark.operators.split import split_long_ways
    n = 4503  # -> 3 parts at max 2000 (step 1999)
    out = sorted(split_long_ways(_ways_df(spark, [range(n)]),
                                 max_nodes=2000).collect(),
                 key=lambda r: r["part"])
    assert [r["part"] for r in out] == [0, 1, 2]
    assert all(r["n_nodes"] <= 2000 for r in out)
    # chained coverage: part i ends where part i+1 begins
    assert out[0]["node_ids"][-1] == out[1]["node_ids"][0]
    assert out[1]["node_ids"][-1] == out[2]["node_ids"][0]
    # full sequence reconstructs exactly
    recon = (out[0]["node_ids"] + out[1]["node_ids"][1:]
             + out[2]["node_ids"][1:])
    assert recon == list(range(n))
    # distinct content-addressed part ids, all non-negative
    ids = {r["way_id"] for r in out}
    assert len(ids) == 3 and all(i >= 0 for i in ids)


def test_split_exact_boundary(spark):
    from topo2osm_spark.operators.split import split_long_ways
    # exactly max_nodes -> one part; max_nodes+1 -> two
    out1 = split_long_ways(_ways_df(spark, [range(2000)]), 2000).collect()
    assert len(out1) == 1 and out1[0]["n_parts"] == 1
    out2 = sorted(split_long_ways(_ways_df(spark, [range(2001)]), 2000).collect(),
                  key=lambda r: r["part"])
    assert len(out2) == 2
    assert out2[0]["n_nodes"] == 2000 and out2[1]["n_nodes"] == 2
    assert out2[0]["node_ids"][-1] == out2[1]["node_ids"][0]


_WAYS = ("way_id long, doc_id string, span_idx int, geom_kind string, "
         "flate_id long, ring_idx int, is_hole boolean, closed boolean, "
         "emit boolean, tags map<string,string>, node_ids array<long>")


def _relations(spark, rows):
    """relations_from_ways over split_long_ways of `rows` (_WAYS
    columns, n_nodes given in place of node_ids); returns (relations,
    {parent_way_id: [part way_id in chain order]})."""
    from topo2osm_spark.operators.split import (relations_from_ways,
                                                split_long_ways)
    ways = split_long_ways(spark.createDataFrame(
        [r[:-1] + (list(range(r[-1])),) for r in rows], _WAYS), 2000)
    parts = {}
    for w in sorted(ways.select("parent_way_id", "part", "way_id").collect()):
        parts.setdefault(w["parent_way_id"], []).append(w["way_id"])
    return relations_from_ways(ways).collect(), parts


def _content_id(spark, schema, *values):
    """content_id of `values` typed by `schema`, as the pipeline types
    them (span_idx int, flate_id and way ids long)."""
    from topo2osm_spark.functions.ids import content_id
    df = spark.createDataFrame([values], schema)
    return df.select(content_id(*df.columns)).first()[0]


def _holed_id(spark, doc_id, span_idx, flate_id):
    return _content_id(spark, "d string, s int, k string, f long",
                       doc_id, span_idx, "R", flate_id)


def _split_ring_id(spark, parent_way_id):
    return _content_id(spark, "p long, k string", parent_way_id, "SR")


def test_relation_member_expansion(spark):
    """A split outer ring of a holed FLATE expands in place, in chain
    order; the unsplit hole passes through."""
    water = {"natural": "water"}
    rels, parts = _relations(spark, [
        (1, "d1", 0, "FLATE", 5, 0, False, True, True, water, 4503),
        (2, "d1", 0, "FLATE", 5, 1, True, True, True, water, 10)])
    assert len(rels) == 1
    members = rels[0]["members"]
    # way 1 (split into 3) expands in place; way 2 passes through
    assert len(members) == 4
    assert [m["role"] for m in members] == ["outer"] * 3 + ["inner"]
    assert members[3]["way_id"] == 2
    assert [m["way_id"] for m in members[:3]] == parts[1]
    assert rels[0]["tags"]["natural"] == "water"
    assert rels[0]["rel_id"] == _holed_id(spark, "d1", 0, 5)


def test_synthesized_relation_for_split_closed_ring(spark):
    rels, parts = _relations(spark, [
        (1, "d1", 0, "FLATE", 5, 0, False, True, True,
         {"natural": "water"}, 4503),
        (2, "d1", 0, "FLATE", 6, 0, False, True, True,
         {"natural": "wood"}, 30)])
    # only the SPLIT closed ring gets a relation; the short one doesn't
    assert len(rels) == 1
    r = rels[0]
    assert r["rel_type"] == "multipolygon"
    assert [m["role"] for m in r["members"]] == ["outer"] * 3
    assert [m["way_id"] for m in r["members"]] == parts[1]
    assert r["tags"]["natural"] == "water"
    assert r["rel_id"] >= 0
    assert r["rel_id"] == _split_ring_id(spark, 1)
    assert (r["doc_id"], r["span_idx"], r["flate_id"]) == ("d1", 0, 5)


def test_split_hole_ring_expands_in_place(spark):
    """A split HOLE ring of a holed FLATE becomes inner parts of the
    FLATE's own multipolygon and gets no split-ring relation."""
    wood = {"natural": "wood"}
    rels, parts = _relations(spark, [
        (1, "d1", 0, "FLATE", 5, 0, False, True, True, wood, 10),
        (2, "d1", 0, "FLATE", 5, 1, True, True, True, wood, 4503)])
    assert len(rels) == 1
    assert rels[0]["rel_id"] == _holed_id(spark, "d1", 0, 5)
    assert [(m["role"], m["way_id"]) for m in rels[0]["members"]] == \
        [("outer", 1)] + [("inner", w) for w in parts[2]]


def test_split_closed_coastline_gets_relation(spark):
    """A closed split Kystkontur curve way (flate_id is its obj_id)
    gets a split-ring multipolygon with the way's tags."""
    coast = {"natural": "coastline"}
    rels, parts = _relations(spark, [
        (1, "d1", 0, "KURVE", 9, 0, False, True, True, coast, 4503)])
    assert len(rels) == 1
    assert rels[0]["rel_id"] == _split_ring_id(spark, 1)
    assert [(m["role"], m["way_id"]) for m in rels[0]["members"]] == \
        [("outer", w) for w in parts[1]]
    assert dict(rels[0]["tags"]) == coast


def test_split_open_or_silent_ring_gets_no_relation(spark):
    """Neither a split OPEN ring nor a split ring that is not emitted
    (Havflate: no tags) gets a split-ring relation."""
    rels, parts = _relations(spark, [
        (1, "d1", 0, "KURVE", 9, 0, False, False, True,
         {"natural": "coastline"}, 4503),
        (2, "d1", 0, "FLATE", 5, 0, False, True, False, {}, 4503)])
    assert len(parts[1]) == 3 and len(parts[2]) == 3
    assert rels == []


def test_holed_silent_flate_keeps_relation(spark):
    """A holed FLATE keeps its multipolygon even when it is not emitted
    (Havflate), with an empty tag map."""
    rels, _ = _relations(spark, [
        (1, "d1", 0, "FLATE", 5, 0, False, True, False, {}, 10),
        (2, "d1", 0, "FLATE", 5, 1, True, True, False, {}, 10)])
    assert len(rels) == 1
    assert rels[0]["rel_id"] == _holed_id(spark, "d1", 0, 5)
    assert [(m["role"], m["way_id"]) for m in rels[0]["members"]] == \
        [("outer", 1), ("inner", 2)]
    assert dict(rels[0]["tags"]) == {}


def test_pipeline_splits_long_ring_end_to_end(spark):
    """A single document carrying a 2500-point closed Innsjø ring must
    come out as chained <=2000-node ways + one multipolygon relation
    referencing every part."""
    from topo2osm_spark.plans.pipeline import run_pipeline
    from topo2osm_spark.schema import DOCUMENTS
    from topo2osm_spark.sources.fixtures import ENHET, KOORDSYS, _HEADER

    t = np.linspace(0, 2 * np.pi, 2500, endpoint=False)
    n = np.round((7_000_000 + 5000 * np.sin(t)) / ENHET) * ENHET
    e = np.round((500_000 + 5000 * np.cos(t)) / ENHET) * ENHET
    buf = [_HEADER.format(k=KOORDSYS, e=ENHET).rstrip(),
           ".KURVE 1:", "..OBJTYPE Innsjøkant", "..NØ"]
    for i in range(len(n)):
        buf.append(f"{int(round(n[i] / ENHET))} {int(round(e[i] / ENHET))}")
    # close the ring by repeating the first point
    buf.append(f"{int(round(n[0] / ENHET))} {int(round(e[0] / ENHET))}")
    buf += [".FLATE 2:", "..OBJTYPE Innsjø", "..REF :1", "..NØ",
            f"{int(round(7_000_000 / ENHET))} {int(round(500_000 / ENHET))}",
            ".SLUTT"]
    docs = spark.createDataFrame(
        [("big-ring", [{"kind": "sosi", "text": "\n".join(buf),
                        "media_ref": "", "offset": 1}])], DOCUMENTS)
    out = run_pipeline(spark, docs, run_pip=False, run_tiles=False)
    ways = out["ways"].collect()
    emit_ways = [w for w in ways if w["emit"]]
    assert len(emit_ways) == 2  # 2501 nodes -> ceil(2500/1999) = 2 parts
    assert all(w["n_nodes"] <= 2000 for w in emit_ways)
    parts = sorted(emit_ways, key=lambda w: w["part"])
    assert parts[0]["node_ids"][-1] == parts[1]["node_ids"][0]
    # chain closes: last part ends on the first part's first node
    assert parts[-1]["node_ids"][-1] == parts[0]["node_ids"][0]
    rels = out["relations"].collect()
    assert len(rels) == 1
    assert {m["way_id"] for m in rels[0]["members"]} == \
        {w["way_id"] for w in emit_ways}
    assert all(m["role"] == "outer" for m in rels[0]["members"])
    assert rels[0]["tags"]["natural"] == "water"
