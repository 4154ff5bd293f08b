"""Cross-span ring assembly (VERDICT r4 #2) + snap-label convergence
guard (VERDICT r4 next-round #7).

A document is one SOSI file; when its text is split across several
spans, a FLATE in one span may reference curves parsed from another
span. The fused span-local kernel defers such flates (n_orphan_refs)
to the document-wide shuffle fallback (assembly.assemble_rings_docwide),
which resolves refs across all spans the way the upstream converter
resolves them file-wide.
"""

import pytest
from pyspark.sql import functions as F

from topo2osm_spark.schema import DOCUMENTS

HEADER = (".HODE\n..TEGNSETT UTF-8\n..TRANSPAR\n...KOORDSYS 23\n"
          "...ORIGO-NØ 0 0\n...ENHET 0.01\n")

# a 100 m square ring split into two 3-point halves sharing endpoints
# (ints are 0.01 m units: 650000000 = 6 500 000.00 m N)
CURVE_LEFT = (".KURVE 1:\n..OBJTYPE Innsjøkant\n..NØ\n"
              "650000000 20000000\n650010000 20000000\n650010000 20010000\n")
CURVE_RIGHT = (".KURVE 2:\n..OBJTYPE Innsjøkant\n..NØ\n"
               "650010000 20010000\n650000000 20010000\n650000000 20000000\n")
# decoy: same curve id 2, geometry 10 km away — must NOT be picked
# over the flate's own-span curve 2
CURVE_RIGHT_DECOY = (".KURVE 2:\n..OBJTYPE Innsjøkant\n..NØ\n"
                     "651000000 21000000\n651010000 21010000\n")
FLATE = (".FLATE 10:\n..OBJTYPE Innsjø\n..REF :1 :2\n..NØ\n"
         "650005000 20005000\n")


def _doc(spark, span_texts, doc_id="xdoc"):
    spans = [{"kind": "sosi", "text": HEADER + t + ".SLUTT\n",
              "media_ref": None, "offset": i * 1000}
             for i, t in enumerate(span_texts)]
    return spark.createDataFrame([{"doc_id": doc_id, "spans": spans}],
                                 DOCUMENTS)


def _run(spark, docs):
    from topo2osm_spark.plans.pipeline import run_pipeline
    return run_pipeline(spark, docs, run_pip=False, run_tiles=False)


def test_cross_span_flate_assembles_closed_ring(spark):
    """FLATE in span 1 references curve 1 that lives in span 0: the
    ring must still assemble CLOSED (not silently lose the curve), and
    integrity reports cross_span_ref (informational), not orphan_ref."""
    out = _run(spark, _doc(spark, [CURVE_LEFT, CURVE_RIGHT + FLATE]))
    rings = out["rings"].collect()
    assert len(rings) == 1
    r = rings[0]
    assert r["closed"] and r["span_idx"] == 1 and r["flate_id"] == 10
    assert not r["is_hole"] and r["area"] > 0
    # 4 corners + closing point, junction duplicates dropped
    assert len(r["lats"]) == 5
    assert r["lats"][0] == r["lats"][-1] and r["lons"][0] == r["lons"][-1]
    issues = {(i["issue"], i["span_idx"], i["obj_id"])
              for i in out["integrity"].collect()}
    assert ("cross_span_ref", 1, 1) in issues
    assert not any(i[0] == "orphan_ref" for i in issues)


def test_cross_span_id_collision_prefers_own_span(spark):
    """Fixture-style corpora restart curve ids per span. When the
    doc-wide join is ambiguous, the flate's OWN span must win: span 0
    carries a decoy curve 2 (10 km away), span 1 the real curve 2."""
    out = _run(spark, _doc(
        spark, [CURVE_LEFT + CURVE_RIGHT_DECOY, CURVE_RIGHT + FLATE]))
    rings = out["rings"].collect()
    assert len(rings) == 1
    r = rings[0]
    assert r["closed"], "decoy pick would leave the ring open"
    assert max(r["lats"]) < 59.0  # 6 500 100 m N is well south of 59°
    assert len(r["lats"]) == 5


def test_single_span_orphan_ref_still_partial(spark):
    """A truly-missing ref (nowhere in the doc) assembles partially via
    the fallback — same rows the span-local kernel used to emit — and
    stays an orphan_ref integrity row."""
    flate_bad = FLATE.replace("..REF :1 :2", "..REF :1 :2 :555")
    out = _run(spark, _doc(spark, [CURVE_LEFT + CURVE_RIGHT + flate_bad]))
    rings = out["rings"].collect()
    assert len(rings) == 1 and rings[0]["closed"]
    issues = {(i["issue"], i["obj_id"]) for i in out["integrity"].collect()}
    assert ("orphan_ref", 555) in issues
    assert not any(i[0] == "cross_span_ref" for i in issues)


def test_self_contained_corpus_no_cross_span_issues(pipeline_out):
    """The standard fixture corpus is span-self-contained (its seeded
    orphan refs use ids that exist in NO span), so the new issue class
    must not appear there — fixture outputs are unchanged by the
    fallback."""
    n = (pipeline_out["integrity"]
         .where(F.col("issue") == "cross_span_ref").count())
    assert n == 0


def test_snap_chain_converges_6_nodes(spark):
    """A 6-node within-tolerance chain with monotone ids (the worst
    case for min-label propagation) must resolve to ONE canonical node
    with the default iterations=2 — the pointer-jumping compression
    round doubles the reachable depth (VERDICT r4 #4)."""
    from topo2osm_spark.operators import nodes as nodeops
    dlat = 0.4 / 111320.0  # 0.4 m spacing, tol 0.5 m
    chain = spark.createDataFrame(
        [(10 * (k + 1), 60.0 + k * dlat, 10.0) for k in range(6)],
        "node_id long, lat double, lon double")
    m = {(r["node_id"], r["canon_id"]) for r in
         nodeops.snap_mapping(chain, tol_m=0.5, max_abs_lat=72.0).collect()}
    assert m == {(20, 10), (30, 10), (40, 10), (50, 10), (60, 10)}


def test_snap_chain_too_deep_raises(spark):
    """A pathologically deep chain (degenerate input) must fail LOUDLY
    instead of silently leaving two canons in one component."""
    from topo2osm_spark.operators import nodes as nodeops
    dlat = 0.4 / 111320.0
    chain = spark.createDataFrame(
        [(10 * (k + 1), 60.0 + k * dlat, 10.0) for k in range(16)],
        "node_id long, lat double, lon double")
    with pytest.raises(Exception, match="converge"):
        nodeops.snap_mapping(chain, tol_m=0.5, max_abs_lat=72.0).collect()


def test_with_canon_coords_matches_output_node_table(spark):
    """The enriched snap map's (c_lat, c_lon) must equal the OUTPUT
    node table's coordinates for the same canon_id — consumers joining
    points to nodes on node_id never see divergent positions (r5 moved
    this enrichment inside the checkpointed snap_map stage)."""
    from topo2osm_spark.operators import nodes as nodeops

    pts = spark.createDataFrame(
        [(60.0, 10.0), (60.0 + 3e-7, 10.0 + 3e-7),   # snap pair
         (61.0, 11.0), (61.0, 11.0)],                # exact dup
        "lat double, lon double")
    raw = nodeops.dedup_nodes(pts)
    mapping = nodeops.snap_mapping(raw, tol_m=0.5, max_abs_lat=72.0)
    enriched = nodeops.with_canon_coords(mapping, raw)
    out = nodeops.snap_nodes_table(raw, enriched)
    out_coords = {r["node_id"]: (r["lat"], r["lon"]) for r in out.collect()}
    rows = enriched.collect()
    assert rows, "the 3e-7-degree pair must produce a mapping row"
    for r in rows:
        assert (r["c_lat"], r["c_lon"]) == out_coords[r["canon_id"]]
    # apply_snap must not leak the enrichment columns into its output
    snapped = nodeops.apply_snap(
        raw.select("node_id"), enriched)
    assert set(snapped.columns) == {"node_id"}
