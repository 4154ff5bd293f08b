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


def test_relation_member_expansion(spark):
    from topo2osm_spark.operators.split import (
        expand_relation_members, split_long_ways, split_mapping)
    ways = split_long_ways(_ways_df(spark, [range(4503), range(10)]), 2000)
    mapping = split_mapping(ways)
    rels = spark.createDataFrame(
        [(7, "d1", 0, 5,
          [{"role": "outer", "way_id": 1}, {"role": "inner", "way_id": 2}],
          {"natural": "water"}, "multipolygon")],
        "rel_id long, doc_id string, span_idx int, flate_id long, "
        "members array<struct<role:string,way_id:long>>, "
        "tags map<string,string>, rel_type string")
    out = expand_relation_members(rels, mapping).collect()
    assert len(out) == 1
    members = out[0]["members"]
    # way 1 (split into 3) expands in place; way 2 passes through
    assert len(members) == 4
    assert [m["role"] for m in members] == ["outer"] * 3 + ["inner"]
    assert members[3]["way_id"] == 2
    split_ids = {r["way_id"] for r in mapping.collect()}
    assert {m["way_id"] for m in members[:3]} == split_ids
    assert out[0]["tags"]["natural"] == "water"


def test_synthesized_relation_for_split_closed_ring(spark):
    from topo2osm_spark.operators.split import (
        split_long_ways, synthesize_relations_for_split_rings)
    ways = spark.createDataFrame(
        [(1, "d1", 0, 5, list(range(4503)), True, True, {"natural": "water"}),
         (2, "d1", 0, 6, list(range(30)), True, True, {"natural": "wood"})],
        "way_id long, doc_id string, span_idx int, flate_id long, "
        "node_ids array<long>, closed boolean, emit boolean, "
        "tags map<string,string>")
    split = split_long_ways(ways, 2000)
    empty_rels = spark.createDataFrame(
        [],
        "rel_id long, doc_id string, span_idx int, flate_id long, "
        "members array<struct<role:string,way_id:long>>, "
        "tags map<string,string>, rel_type string")
    out = synthesize_relations_for_split_rings(split, empty_rels).collect()
    # only the SPLIT closed ring gets a relation; the short one doesn't
    assert len(out) == 1
    r = out[0]
    assert r["rel_type"] == "multipolygon"
    assert [m["role"] for m in r["members"]] == ["outer"] * 3
    assert r["tags"]["natural"] == "water"
    assert r["rel_id"] >= 0


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
