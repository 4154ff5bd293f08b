"""The end-to-end hole/multipolygon chain on ONE deterministic
fixture (VERDICT r4 task #6 / r3 task #8): a lake FLATE with TWO hole
rings and an island FLATE (re-using one hole's curve) inside one hole,
asserted through ways, relations, membership AND islands in a single
run — the full §2 op-14/21/22 contract in one place.

Layout (UTM33 meters, ENHET 0.01):
  lake  FLATE 100 Innsjø : outer 400x400 square (curves 1+2),
                           holes ( :3 ) ( :4 ) (80x80 squares)
  island FLATE 200 Skog  : ring = hole-1's curve (:3), interior point
                           at the hole-1 center
"""

import pytest
from pyspark.sql import functions as F

from topo2osm_spark.schema import DOCUMENTS

HEADER = (".HODE\n..TEGNSETT UTF-8\n..TRANSPAR\n...KOORDSYS 23\n"
          "...ORIGO-NØ 0 0\n...ENHET 0.01\n")


def _curve(cid, pts):
    rows = "\n".join(f"{int(n * 100)} {int(e * 100)}" for n, e in pts)
    return f".KURVE {cid}:\n..OBJTYPE Innsjøkant\n..NØ\n{rows}\n"


A, B, C, D = (6550000, 300000), (6550000, 300400), (6550400, 300400), \
    (6550400, 300000)
H1 = [(6550240, 300240), (6550240, 300320), (6550320, 300320),
      (6550320, 300240), (6550240, 300240)]
H2 = [(6550080, 300080), (6550080, 300160), (6550160, 300160),
      (6550160, 300080), (6550080, 300080)]

FRAG = (HEADER
        + _curve(1, [A, B, C]) + _curve(2, [C, D, A])
        + _curve(3, H1) + _curve(4, H2)
        + ".FLATE 100:\n..OBJTYPE Innsjø\n..REF :1 :2 ( :3 ) ( :4 )\n"
          "..NØ\n655020000 30005000\n"      # inside outer, outside holes
        + ".FLATE 200:\n..OBJTYPE Skog\n..REF :3\n"
          "..NØ\n655028000 30028000\n"      # hole-1 center
        + ".SLUTT\n")


@pytest.fixture(scope="module")
def mega_out(spark):
    from topo2osm_spark.plans.pipeline import run_pipeline
    docs = spark.createDataFrame(
        [{"doc_id": "mega", "spans": [
            {"kind": "sosi", "text": FRAG, "media_ref": None, "offset": 0}]}],
        DOCUMENTS)
    out = run_pipeline(spark, docs, run_tiles=False)
    return {k: out[k].collect()
            for k in ("rings", "ways", "relations", "membership",
                      "islands", "integrity", "nodes")}


def test_mega_chain(mega_out):
    rings = mega_out["rings"]
    # 4 rings: lake outer + 2 holes + island outer, all closed
    assert len(rings) == 4 and all(r["closed"] for r in rings)
    lake = {r["ring_idx"]: r for r in rings if r["flate_id"] == 100}
    island = [r for r in rings if r["flate_id"] == 200]
    assert set(lake) == {0, 1, 2}
    assert not lake[0]["is_hole"] and lake[0]["area"] > 0        # CCW outer
    assert lake[1]["is_hole"] and lake[1]["area"] < 0            # CW holes
    assert lake[2]["is_hole"] and lake[2]["area"] < 0
    assert len(island) == 1 and not island[0]["is_hole"] \
        and island[0]["area"] > 0

    # --- ways: each ring a closed tagged way; the island way re-uses
    # the hole-1 curve, so it shares ALL node ids with the hole-1 way
    ways = {w["way_id"]: w for w in mega_out["ways"] if w["emit"]}
    ring_ways = {r["way_id"] for r in rings}
    assert ring_ways <= set(ways)
    lake_way_tags = ways[lake[0]["way_id"]]["tags"]
    assert lake_way_tags["natural"] == "water"
    assert ways[island[0]["way_id"]]["tags"]["natural"] == "wood"
    hole1_nodes = ways[lake[1]["way_id"]]["node_ids"]
    island_nodes = ways[island[0]["way_id"]]["node_ids"]
    assert set(hole1_nodes) == set(island_nodes)   # shared node space
    assert ways[island[0]["way_id"]]["closed"]

    # --- relations: exactly one multipolygon (the holed lake) with
    # outer + 2 inner members in ring order; island has no holes
    rels = mega_out["relations"]
    assert len(rels) == 1
    rel = rels[0]
    assert rel["flate_id"] == 100 and rel["rel_type"] == "multipolygon"
    roles = [m["role"] for m in rel["members"]]
    assert roles == ["outer", "inner", "inner"]
    assert [m["way_id"] for m in rel["members"]] == [
        lake[0]["way_id"], lake[1]["way_id"], lake[2]["way_id"]]
    assert rel["tags"]["natural"] == "water"

    # --- membership (hole-aware): the lake point is a member of the
    # lake only; the island point (inside hole 1) is a member of the
    # ISLAND only — hole-blind membership would also claim the lake
    mem = {(m["flate_id"], m["ring_flate_id"])
           for m in mega_out["membership"]}
    assert (100, 100) in mem
    assert (200, 200) in mem
    assert (200, 100) not in mem
    assert (100, 200) not in mem

    # --- islands: the Skog flate is attributed to the Innsjø water
    # body through the outer-ring containment (hole coincidence is
    # exactly why islands use outer-only containment)
    isl = mega_out["islands"]
    assert len(isl) == 1
    assert (isl[0]["flate_id"], isl[0]["water_flate_id"],
            isl[0]["island_objtype"], isl[0]["water_objtype"]) == \
        (200, 100, "Skog", "Innsjø")

    # --- integrity: the fixture is self-contained — no orphan refs;
    # every curve is referenced (curve 3 twice)
    assert not [i for i in mega_out["integrity"]
                if i["issue"] in ("orphan_ref", "cross_span_ref")]
