"""End-to-end pipeline invariants on the deterministic corpus.

These are the engine-side equivalents of the reference's golden
fixtures (SURVEY.md §5.2): ring closure, orientation, shared-node
dedup, span-sequence equality, tag table, tile alignment. All outputs
are materialized ONCE (module fixture); assertions run on plain rows.
"""

import contextlib
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from topo2osm_spark.functions import cells, geom


@pytest.fixture(scope="module")
def out(pipeline_out):
    """Collect every pipeline output once."""
    collected = {}
    for k in ("rings", "nodes", "ways", "relations", "echo",
              "membership", "tile_assignments", "integrity"):
        collected[k] = pipeline_out[k].collect()
    collected["obj_kinds"] = {
        r["obj_kind"]: r["n"]
        for r in pipeline_out["objects"].groupBy("obj_kind")
        .agg(F.count("*").alias("n")).collect()}
    return collected


def test_objects_parsed(out):
    assert out["obj_kinds"].get("KURVE", 0) > 50
    assert out["obj_kinds"].get("FLATE", 0) > 10


def test_rings_closed_and_oriented(out):
    rings = out["rings"]
    assert len(rings) > 10
    n_closed = 0
    for r in rings:
        if not r["closed"]:
            continue  # ~1% deliberate error cases
        n_closed += 1
        lats, lons = np.array(r["lats"]), np.array(r["lons"])
        assert lats[0] == lats[-1] and lons[0] == lons[-1]
        area = geom.shoelace_area(lats, lons)
        if r["is_hole"]:
            assert area < 0
        else:
            assert area > 0
        assert r["area"] == pytest.approx(area)
    assert n_closed >= 0.9 * len(rings)


def test_shared_curve_shares_all_node_ids(out, docs_df):
    """Two FLATEs referencing the same curve share ALL its node ids
    (FIXTURES.md golden check)."""
    from collections import Counter
    from topo2osm_spark.sources import sosi
    target = None
    for row in docs_df.collect():
        for si, s in enumerate(row["spans"]):
            if s["kind"] != "sosi":
                continue
            objs = sosi.parse_fragment(s["text"], row["doc_id"], si)
            refcount = Counter(abs(r) for o in objs if o["obj_kind"] == "FLATE"
                               for r in o["refs"])
            shared = [c for c, n in refcount.items() if n >= 2]
            if shared:
                flates = [o["obj_id"] for o in objs if o["obj_kind"] == "FLATE"
                          and shared[0] in [abs(r) for r in o["refs"]]]
                curve = next(o for o in objs if o["obj_id"] == shared[0])
                n_distinct = len({tuple(c[:2]) for c in curve["coords"]})
                target = (row["doc_id"], si, set(flates), n_distinct)
                break
        if target:
            break
    assert target, "corpus must contain a shared-curve case"
    doc_id, si, flate_ids, n_curve_pts = target
    by_flate = {}
    for w in out["ways"]:
        if (w["doc_id"] == doc_id and w["span_idx"] == si
                and w["geom_kind"] == "FLATE" and w["flate_id"] in flate_ids):
            by_flate.setdefault(w["flate_id"], set()).update(w["node_ids"])
    sets = list(by_flate.values())
    assert len(sets) >= 2
    assert len(sets[0] & sets[1]) >= n_curve_pts


def test_span_sequence_equality(out, docs_df):
    """Per-row invariant (BASELINE.json:15): echo == input ordered by
    offset, fields (kind, text, media_ref, order)."""
    echo = {r["doc_id"]: r["spans_sorted"] for r in out["echo"]}
    for row in docs_df.collect():
        expect = sorted(
            [(s["offset"], s["kind"], s["text"], s["media_ref"]) for s in row["spans"]])
        got = [(s["offset"], s["kind"], s["text"], s["media_ref"])
               for s in echo[row["doc_id"]]]
        assert got == expect


def test_tags_applied(out):
    lakes = [w for w in out["ways"] if w["objtype"] == "Innsjø"]
    assert lakes and all(w["tags"]["natural"] == "water" for w in lakes)
    coast = [w for w in out["ways"] if w["objtype"] == "Kystkontur"]
    for c in coast:
        assert c["tags"]["natural"] == "coastline"
    # glue curves never become standalone ways
    assert not any(w["objtype"] in ("Innsjøkant", "Skoggrense")
                   and w["geom_kind"] == "KURVE" for w in out["ways"])


def test_snap_merged_near_duplicates(out, docs_df):
    """The generator seeds Sti paths whose first vertex sits within the
    snap tolerance of a lake-ring vertex: after snapping, that vertex
    must resolve to the SAME node id the ring uses."""
    sti_ways = [w for w in out["ways"] if w["objtype"] == "Sti"]
    assert sti_ways, "corpus should contain Sti near-dup cases"
    ring_nodes = set()
    for w in out["ways"]:
        if w["geom_kind"] == "FLATE":
            ring_nodes.update(w["node_ids"])
    n_merged = sum(1 for w in sti_ways if w["node_ids"][0] in ring_nodes)
    # jitter is within tol for vertex 0 -> it should snap to the ring
    assert n_merged >= 0.8 * len(sti_ways)
    # vertex 1 is jittered OUTSIDE tol -> must not merge
    n_far_merged = sum(1 for w in sti_ways if w["node_ids"][1] in ring_nodes)
    assert n_far_merged == 0


def test_membership_self_containment(out, pipeline_out):
    """Every FLATE interior point lies in its OWN outer ring (op 14)."""
    self_pairs = {(m["doc_id"], m["flate_id"]) for m in out["membership"]
                  if m["doc_id"] == m["ring_doc_id"]
                  and m["flate_id"] == m["ring_flate_id"]}
    closed_flates = {(r["doc_id"], r["flate_id"]) for r in out["rings"]
                     if not r["is_hole"] and r["closed"]}
    assert len(self_pairs & closed_flates) >= 0.9 * len(closed_flates)


def test_membership_is_hole_aware(out, pipeline_out):
    """A point sitting in a HOLE of a FLATE is NOT contained in it
    (VERDICT r3 'what's wrong' #1): the seeded island FLATEs' interior
    points lie inside their lake's outer ring AND inside the hole ring
    punched for the island, so hole-subtracted membership must exclude
    the (island point, lake) pair that outer-only containment reports
    (the islands surface below still reports it, by design)."""
    islands = pipeline_out["islands"].collect()
    seeded = [i for i in islands if i["doc_id"] == i["ring_doc_id"]]
    assert seeded, "fixture corpus must seed same-doc islands"
    member_pairs = {(m["doc_id"], m["flate_id"],
                     m["ring_doc_id"], m["ring_flate_id"])
                    for m in out["membership"]}
    for i in seeded:
        blind_pair = (i["doc_id"], i["flate_id"],
                      i["ring_doc_id"], i["water_flate_id"])
        assert blind_pair not in member_pairs, (
            "hole-blind containment leaked into membership", blind_pair)


def test_island_hierarchy(out, pipeline_out):
    """Island FLATEs (land ring reusing a lake hole's curves) resolve
    to their containing water body (SURVEY.md §2.12)."""
    islands = pipeline_out["islands"].collect()
    assert len(islands) > 0
    for i in islands:
        assert i["island_objtype"] in ("Skog", "Myr", "DyrketMark", "SnøIsbre")
        assert i["water_objtype"] in ("Innsjø", "InnsjøRegulert", "ElvBekk", "Havflate")
        assert (i["doc_id"], i["flate_id"]) != (i["ring_doc_id"], i["water_flate_id"])
    # the seeded case: island lives in the SAME doc as its lake
    assert any(i["doc_id"] == i["ring_doc_id"] for i in islands)


def test_tile_assignments_alignment(out):
    rows = out["tile_assignments"]
    assert len(rows) > 0
    for r in rows[:500]:
        z, x, y = map(int, r["media_ref"].split("/")[1:])
        tile = cells.cell_from_tile(np.array([z]), np.array([x]), np.array([y]))[0]
        assert cells.parent(np.array([r["cell_id"]]), z)[0] == tile


def test_nodes_unique_and_refcounted(out):
    node_ids = [n["node_id"] for n in out["nodes"]]
    assert len(node_ids) == len(set(node_ids))
    assert any(n["n_refs"] >= 2 for n in out["nodes"])


def test_way_nodes_exist_in_node_table(out):
    node_ids = {n["node_id"] for n in out["nodes"]}
    for w in out["ways"]:
        assert set(w["node_ids"]) <= node_ids


def test_relations_have_outer_and_inner(out):
    rels = out["relations"]
    assert rels, "corpus contains holed lakes -> multipolygons must exist"
    for r in rels:
        roles = {m["role"] for m in r["members"]}
        assert "outer" in roles and "inner" in roles
        assert r["rel_type"] == "multipolygon"


def test_integrity_report_finds_seeded_errors(out):
    issues = {r["issue"] for r in out["integrity"]}
    assert "unused_curve" in issues


def test_kp_junction_nodes_survive(out, pipeline_out):
    """...KP-marked junction coordinates must exist in the node table
    after quantize+snap (SURVEY.md §2 op 5 KP consumption)."""
    n_kp = pipeline_out["objects"].where(F.size("kp") > 0).count()
    assert n_kp > 0, "corpus seeds KP markers on coastline chains"
    assert not any(r["issue"] == "kp_node_missing" for r in out["integrity"])


def test_coastline_direction_contract(out):
    """N50 Kystkontur: water on the right -> closed island rings run
    CCW. The generator emits half of them CW on purpose; the pipeline
    must repair the direction (assembly.orient_closed_curve_ways)."""
    nodemap = {n["node_id"]: (n["lat"], n["lon"]) for n in out["nodes"]}
    closed_coast = [w for w in out["ways"]
                    if w["objtype"] == "Kystkontur" and w["closed"]
                    and w["geom_kind"] == "KURVE" and w["n_parts"] == 1]
    assert closed_coast, "corpus seeds closed island coastlines"
    for w in closed_coast:
        pts = [nodemap[i] for i in w["node_ids"]]
        lats = np.array([p[0] for p in pts])
        lons = np.array([p[1] for p in pts])
        assert geom.shoelace_area(lats, lons) > 0, \
            f"way {w['way_id']} runs clockwise (water-on-left)"


def test_contours_carry_ele(out):
    """Høydekurve ways get ele=<NØH height> (SURVEY.md §2.12)."""
    contours = [w for w in out["ways"] if w["objtype"] == "Høydekurve"]
    assert contours, "corpus seeds NØH contours"
    for w in contours:
        assert w["tags"].get("contour") == "elevation"
        ele = w["tags"].get("ele")
        assert ele is not None and 100 <= float(ele) <= 1500
        assert "." not in ele  # integral heights render as integers


def test_no_consecutive_duplicate_node_refs(out):
    """Adjacent way vertices that quantize/snap to one node must not
    emit repeated <nd> refs (invalid OSM geometry); closed rings keep
    first == last."""
    for w in out["ways"]:
        ids = w["node_ids"]
        assert all(ids[i] != ids[i - 1] for i in range(1, len(ids))), \
            f"consecutive duplicate node in way {w['way_id']}"


def test_entity_ids_are_63_bit_non_negative(out):
    """functions/ids.py contract: every engine id is a non-negative
    63-bit content hash, so the OSM export's negation is bijective."""
    for n in out["nodes"]:
        assert n["node_id"] >= 0
    for w in out["ways"]:
        assert w["way_id"] >= 0
    for r in out["relations"]:
        assert r["rel_id"] >= 0
        assert all(m["way_id"] >= 0 for m in r["members"])


def test_snap_latitude_cap_guard(spark):
    """Explicit max_abs_lat is barrier-free but LOUD: data beyond the
    cap raises in the executor instead of silently under-merging; the
    derive-by-agg path (max_abs_lat=None) handles the same data; and
    at in-range latitudes both paths produce the same mapping."""
    import pytest
    from topo2osm_spark.operators import nodes as nodeops

    near = spark.createDataFrame(
        [(1, 65.0, 10.0), (2, 65.0 + 3e-7, 10.0 + 3e-7), (3, 66.0, 11.0)],
        "node_id long, lat double, lon double")
    m_cap = {(r["node_id"], r["canon_id"]) for r in
             nodeops.snap_mapping(near, tol_m=0.5, max_abs_lat=72.0).collect()}
    m_agg = {(r["node_id"], r["canon_id"]) for r in
             nodeops.snap_mapping(near, tol_m=0.5, max_abs_lat=None).collect()}
    assert m_cap == m_agg == {(2, 1)}

    polar = spark.createDataFrame(
        [(1, 80.1, 15.0), (2, 60.0, 10.0)],
        "node_id long, lat double, lon double")
    with pytest.raises(Exception, match="max_abs_lat"):
        nodeops.snap_mapping(polar, tol_m=0.5, max_abs_lat=72.0).collect()
    # derive path covers Svalbard without raising
    assert nodeops.snap_mapping(polar, tol_m=0.5).count() == 0


def test_tagged_points_output(out, pipeline_out):
    """Tagged point features (SURVEY.md §2 op 9 output): PUNKT
    Høydepunkt -> natural=peak nodes; TEKST Høydetall lake-elevation
    labels -> ele=<STRENG> nodes. Point node ids live in the shared
    node space (quantize+snap), so they appear in the node table."""
    pts = pipeline_out["points"].collect()
    assert pts, "corpus seeds PUNKT and TEKST objects"
    peaks = [p for p in pts if p["objtype"] == "Høydepunkt"]
    assert peaks and all(p["tags"]["natural"] == "peak" for p in peaks)
    eles = [p for p in pts if p["objtype"] == "Høydetall"]
    assert eles, "corpus seeds TEKST elevation labels"
    for p in eles:
        assert p["tags"]["ele"].isdigit() and 1 <= int(p["tags"]["ele"]) < 1500
    node_ids = {n["node_id"] for n in out["nodes"]}
    assert {p["node_id"] for p in pts} <= node_ids


def test_span_echo_at_scale_sampled(spark):
    """Span-sequence invariant at bench scale (r2 verdict task 8):
    echo output equals the input span sequence byte-for-byte on a
    deterministic sample of the frozen 512k-doc scaling corpus."""
    import os
    path = "/root/repo/_data/scale_512000.parquet"
    if not os.path.exists(path):
        pytest.skip("512k scaling corpus not materialized")
    from topo2osm_spark.plans.pipeline import echo_spans
    docs = spark.read.parquet(path).where(F.col("doc_id").endswith("00"))
    echo = {r["doc_id"]: r["spans_sorted"]
            for r in echo_spans(docs).collect()}
    raw = docs.collect()
    assert len(raw) >= 5000 and len(echo) == len(raw)
    for row in raw:
        expect = sorted((s["offset"], s["kind"], s["text"], s["media_ref"])
                        for s in row["spans"])
        got = [(s["offset"], s["kind"], s["text"], s["media_ref"])
               for s in echo[row["doc_id"]]]
        assert got == expect


def test_prefetcher_failure_logged_and_resurfaces(spark, caplog):
    """Prefetch materialization errors are LOGGED with the stage name
    (r2 verdict task 9) and still resurface on the caller's action."""
    import logging

    from topo2osm_spark.plans.pipeline import _Prefetcher
    df = (spark.range(1)
          .select(F.raise_error(F.lit("boom")).alias("x"))
          .localCheckpoint(eager=False))
    pf = _Prefetcher()
    with caplog.at_level(logging.WARNING, logger="topo2osm_spark.plans.pipeline"):
        pf.submit(df, "failing_stage")
        pf.close()
        pf._t.join(timeout=120)
    assert any("failing_stage" in r.getMessage() for r in caplog.records)
    with pytest.raises(Exception, match="boom"):
        df.count()


def test_failed_planning_stops_prefetcher(spark):
    """A run_pipeline call that raises while planning (here: no `spans`
    column) still closes its prefetch thread: after it finishes the
    queued work, no thread the calls started is left running."""
    import threading
    import time

    from topo2osm_spark.plans.pipeline import run_pipeline
    bad = spark.range(3).withColumnRenamed("id", "doc_id")
    before = set(threading.enumerate())
    for _ in range(3):
        with pytest.raises(Exception, match="spans"):
            run_pipeline(spark, bad)
    deadline = time.monotonic() + 120
    while (set(threading.enumerate()) - before
           and time.monotonic() < deadline):
        time.sleep(0.2)
    left = set(threading.enumerate()) - before
    assert not left, f"threads left running: {sorted(t.name for t in left)}"


def test_output_plans_truncated(pipeline_out):
    """Stage checkpoints keep every output's analyzed plan small (at
    most ~100 lines on this corpus); without them reused intermediates
    are inlined into each consumer and plans reach tens of thousands
    of lines."""
    for name in ("nodes", "ways", "relations", "points", "integrity",
                 "membership", "islands", "tile_assignments", "echo"):
        tree = pipeline_out[name]._jdf.queryExecution().analyzed().treeString()
        n_lines = len(tree.splitlines())
        assert n_lines < 1000, f"{name}: analyzed plan has {n_lines} lines"


def _plan_nodes(node, out, in_cache=False):
    """Walk an executed physical plan through AQE wrappers and query
    stages; collect (class name, inside-a-cached-relation, node). An
    InMemoryTableScan is a leaf of the plan; its cached plan is walked
    with in_cache=True."""
    name = node.getClass().getSimpleName()
    out.append((name, in_cache, node))
    if name == "AdaptiveSparkPlanExec":
        _plan_nodes(node.executedPlan(), out, in_cache)
        return
    if name.endswith("QueryStageExec"):
        _plan_nodes(node.plan(), out, in_cache)
        return
    if name == "InMemoryTableScanExec":
        _plan_nodes(node.relation().cacheBuilder().cachedPlan(), out, True)
        return
    children = node.children()
    for i in range(children.size()):
        _plan_nodes(children.apply(i), out, in_cache)


def test_pip_runs_once(pipeline_out):
    """membership and islands read ONE materialized PIP hit set: both
    executed plans scan the same checkpoint of it (the RDD that holds
    pt_uid with the ring metadata), and neither plan runs a Python map
    of its own: the refine ran once, inside that checkpoint."""
    hit_rdds = []
    for name in ("membership", "islands"):
        nodes = []
        _plan_nodes(pipeline_out[name]._jdf.queryExecution().executedPlan(),
                    nodes)
        assert not [cls for cls, _, _ in nodes if "MapIn" in cls], \
            f"{name} re-runs a Python map outside the hit set"
        rdds = set()
        for cls, _, node in nodes:
            if cls == "RDDScanExec":
                out = node.output()
                cols = {out.apply(i).name() for i in range(out.size())}
                if {"pt_uid", "ring_uid", "is_hole"} <= cols:
                    rdds.add(node.rdd().id())
        assert rdds, f"{name} does not read the checkpointed hit set"
        hit_rdds.append(rdds)
    assert hit_rdds[0] & hit_rdds[1], \
        "membership and islands read different hit sets"


def test_relations_plan_is_one_grouping(pipeline_out):
    """relations are one grouping of the ways checkpoint: the executed
    plan holds no broadcast exchange and no Python or Arrow node."""
    nodes = []
    _plan_nodes(pipeline_out["relations"]._jdf.queryExecution().executedPlan(),
                nodes)
    bad = [cls for cls, _, _ in nodes
           if "BroadcastExchange" in cls
           or any(k in cls for k in ("Python", "Arrow", "Pandas"))]
    assert not bad, f"relations plan holds {bad}"


@contextlib.contextmanager
def _session_conf(spark, settings: dict):
    """Set session SQL confs for the block; restore them after it."""
    old = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _output_names(plan) -> set:
    out = plan.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_snap_map_join_broadcast_in_every_session(spark, pipeline_out):
    """The snap map is broadcast by the code, not by the planner's size
    estimate: with AQE on and automatic broadcasts off, fresh plans of
    `points` and `integrity` each hold a BroadcastHashJoin whose build
    side is the snap map."""
    with _session_conf(spark, {"spark.sql.adaptive.enabled": "true",
                               "spark.sql.autoBroadcastJoinThreshold": "-1"}):
        for name in ("points", "integrity"):
            nodes = []
            _plan_nodes(pipeline_out[name].select("*")
                        ._jdf.queryExecution().executedPlan(), nodes)
            assert any(cls == "BroadcastHashJoinExec"
                       and "canon_id" in _output_names(node.buildPlan())
                       for cls, _, node in nodes), \
                f"{name} plan does not broadcast the snap map"


def _frozen(v):
    """A collected value as a hashable one: rows and arrays as tuples,
    maps as sorted item tuples."""
    if isinstance(v, (tuple, list)):
        return tuple(_frozen(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _frozen(x)) for k, x in v.items()))
    return v


def test_outputs_do_not_depend_on_aqe(spark, docs_df, pipeline_out):
    """A conversion with AQE off (the batch job's and the benchmark's
    local setting) writes the same rows, as multisets, as the test
    session's AQE-on conversion.

    `islands` is left out: its point metadata join fans out (obj_id
    restarts per span; this corpus has 167 PIP point rows for 117
    points), so the row its row_number keeps among ties follows the
    physical row order (ROADMAP item 1)."""
    from topo2osm_spark.plans.pipeline import run_pipeline
    names = ("nodes", "ways", "relations", "points", "membership",
             "tile_assignments", "echo", "integrity")
    with _session_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        off = run_pipeline(spark, docs_df)
        got = {n: Counter(map(_frozen, off[n].collect())) for n in names}
    for n in names:
        want = Counter(map(_frozen, pipeline_out[n].collect()))
        assert got[n] == want, f"{n} differs with AQE off"


def _jobs(spark) -> list[dict]:
    """Every job in Spark's status store (the store behind its UI), as
    JSON: id, description, submission time in epoch ms."""
    import json
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(jvm.com.fasterxml.jackson.module.scala,
                                  "DefaultScalaModule$").__getattr__("MODULE$"))
    seq = sc._jsc.sc().statusStore().jobsList(None)
    return json.loads(mapper.writeValueAsString(seq))


def test_pipeline_jobs_named_after_stage(spark, docs_df):
    """Every job submitted before run_pipeline returns carries a
    `topo2osm:<stage>` description, and the caller's own description is
    back in place afterwards."""
    import time

    from topo2osm_spark.plans.pipeline import run_pipeline
    sc = spark.sparkContext
    before = max((j["jobId"] for j in _jobs(spark)), default=-1)
    sc.setJobDescription("caller")
    try:
        run_pipeline(spark, docs_df, run_pip=False, run_tiles=False)
        returned_ms = time.time() * 1000
        spark.range(1).count()
    finally:
        sc.setJobDescription(None)
    # the status store is fed asynchronously, in submission order: once
    # the caller's job is there, every earlier job is too
    deadline = time.monotonic() + 60
    while True:
        jobs = [j for j in _jobs(spark) if j["jobId"] > before]
        caller = [j for j in jobs if j.get("description") == "caller"]
        if caller or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert caller, "the caller's job is not described 'caller'"
    first_caller = min(j["jobId"] for j in caller)
    planning = [j for j in jobs if j["submissionTime"] <= returned_ms
                and j["jobId"] < first_caller]
    assert planning, "run_pipeline started no job while planning"
    unnamed = [(j["jobId"], j.get("description"), j["name"])
               for j in planning
               if not str(j.get("description")).startswith("topo2osm:")]
    assert not unnamed, f"jobs not named after a stage: {unnamed}"
