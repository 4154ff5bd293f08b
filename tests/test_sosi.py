import numpy as np

from topo2osm_spark.sources import sosi

FRAG = """.HODE
..TEGNSETT UTF-8
..TRANSPAR
...KOORDSYS 23
...ORIGO-NØ 0 0
...ENHET 0.01
.KURVE 1:
..OBJTYPE Innsjøkant
..NØ
650000000 20000000
650000100 20000200
...KP 1
650000200 20000400
.KURVE 2:
..OBJTYPE Høydekurve
..NØH
650001000 20001000 12000
650001100 20001100 12000
.FLATE 10:
..OBJTYPE Innsjø
..REF :1 :-2 ( :3 :4 )
..NØ
650000050 20000100
.PUNKT 20:
..OBJTYPE Høydepunkt
..NØ
650000000 20000000
.SLUTT
"""


def test_parse_fragment_objects():
    objs = sosi.parse_fragment(FRAG, "d1", 0)
    assert [o["obj_kind"] for o in objs] == ["KURVE", "KURVE", "FLATE", "PUNKT"]
    assert [o["obj_id"] for o in objs] == [1, 2, 10, 20]


def test_parse_kurve_coords_and_kp():
    k1 = sosi.parse_fragment(FRAG)[0]
    assert k1["objtype"] == "Innsjøkant"
    # ints × ENHET 0.01 -> meters
    assert k1["coords"][0] == [6500000.0, 200000.0]
    assert k1["coords"][1] == [6500001.0, 200002.0]
    assert len(k1["coords"]) == 3
    assert k1["kp"] == [1]  # KP marks the 2nd coordinate
    assert k1["koordsys"] == 23
    assert k1["enhet"] == 0.01


def test_parse_noh_heights():
    k2 = sosi.parse_fragment(FRAG)[1]
    assert len(k2["coords"][0]) == 3
    assert k2["coords"][0][2] == 120.0  # 12000 × 0.01


def test_parse_flate_refs_holes_interior():
    f = sosi.parse_fragment(FRAG)[2]
    assert f["refs"] == [1, -2, 3, 4]
    assert f["hole_group"] == [0, 0, 1, 1]
    assert f["coords"] == [[6500000.5, 200001.0]]


def test_parse_punkt():
    p = sosi.parse_fragment(FRAG)[3]
    assert p["objtype"] == "Høydepunkt"
    assert p["coords"] == [[6500000.0, 200000.0]]


def test_origo_offset():
    frag = (".HODE\n..TRANSPAR\n...KOORDSYS 22\n...ORIGO-NØ 6500000 200000\n"
            "...ENHET 1\n.KURVE 1:\n..OBJTYPE Test\n..NØ\n10 20\n.SLUTT\n")
    k = sosi.parse_fragment(frag)[0]
    assert k["coords"] == [[6500010.0, 200020.0]]
    assert k["koordsys"] == 22


def test_multiline_refs():
    frag = (".HODE\n...ENHET 0.01\n.FLATE 5:\n..OBJTYPE Skog\n"
            "..REF :1 :2\n:3 ( :-4\n:5 ) ( :6 )\n..NØ\n100 200\n.SLUTT\n")
    f = sosi.parse_fragment(frag)[0]
    assert f["refs"] == [1, 2, 3, -4, 5, 6]
    assert f["hole_group"] == [0, 0, 0, 1, 1, 2]


def test_arrow_batch_roundtrip():
    import pyarrow as pa
    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": "d1", "span_idx": 0, "text": FRAG},
         {"doc_id": "d2", "span_idx": 3, "text": FRAG},
         {"doc_id": "d3", "span_idx": 1, "text": None}],
        schema=pa.schema([pa.field("doc_id", pa.string()),
                          pa.field("span_idx", pa.int32()),
                          pa.field("text", pa.string())]))
    out = list(sosi.tokenize_project_assemble_batches([batch]))
    assert len(out) == 1
    objs = [d for d, k in zip(out[0].column("doc_id").to_pylist(),
                              out[0].column("row_kind").to_pylist())
            if k == "obj"]
    assert len(objs) == 8  # 4 objects × 2 docs
    assert set(objs) == {"d1", "d2"}


def test_parse_tekst_streng():
    """TEKST label objects (SURVEY.md §2 op 9): ..STRENG payload +
    single ..NØ point. Lake elevation labels carry the elevation as
    the label string."""
    frag = """.HODE
..TEGNSETT UTF-8
..TRANSPAR
...KOORDSYS 23
...ORIGO-NØ 0 0
...ENHET 0.01
.TEKST 7:
..OBJTYPE Høydetall
..STRENG 432
..NØ
650000000 20000000
.SLUTT
"""
    objs = sosi.parse_fragment(frag, "d1", 0)
    assert len(objs) == 1
    o = objs[0]
    assert o["obj_kind"] == "TEKST" and o["obj_id"] == 7
    assert o["objtype"] == "Høydetall"
    assert o["streng"] == "432"
    assert np.allclose(o["coords"], [[6500000.0, 200000.0]])
    # non-TEKST objects carry streng=None
    assert all(x["streng"] is None for x in sosi.parse_fragment(FRAG, "d", 0))
