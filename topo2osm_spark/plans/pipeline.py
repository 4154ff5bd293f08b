"""End-to-end SOSI->OSM conversion pipeline (SURVEY.md §3.2).

Reimplements the reference converter's three passes
[U: topo2osm.py::main; mount empty, SURVEY.md §0] as one lazy
DataFrame DAG:

  S1 posexplode(spans), kind routing          — narrow
  S2+S3+S4 FUSED mapInArrow: SOSI tokenize,
    UTM->WGS84, span-local ring assembly      — ONE narrow Py boundary
    (a FLATE references only its own span's curves, so assembly needs
    no shuffle; see sources/sosi.tokenize_project_assemble_spans)
  S5 way-node explode, quantize, node dedup   — shuffle (hash agg)
  S6 kNN snap (binned JVM pair-gen + one
     grouped-Arrow union-find over the edges) — shuffle
  S7 way re-collect (sorted by pos)           — shuffle
  S8 tag lookup (literal map, element_at)     — no join
  S9 PIP hit set (JVM per-ring-resolution covers
     and point cell ladders, one salted ray-cast
     Py boundary; computed once, read by
     membership AND islands) + raster<->vector
     tile join                                — cell equi-joins
  S10 outputs: nodes/ways/relations/tile_assignments/echo/metrics

Every output id is content-addressed (63-bit xxhash64 of stable
identity, functions/ids.py),
never an order-dependent counter — the distributed replacement for
the reference's sequential negative ids (SURVEY.md §2 op 27).

With a `Warehouse`, each stage materializes through the
checkpoint/lineage layer and a re-run with the same fingerprints
resumes without recompute (op 43).
"""

from __future__ import annotations

import logging
import queue
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from topo2osm_spark.functions.ids import content_id
from topo2osm_spark.operators import (assembly, nodes as nodeops, pip,
                                      split as splitops, tags, tiles)
from topo2osm_spark.sources import sosi
from topo2osm_spark.sources.warehouse import Warehouse, fingerprint

# kNN snap tolerance, and the latitude bound its bins are sized for
# (mainland Norway; the snap raises on data beyond it). Both are folded
# into the stage fingerprints that depend on them.
SNAP_TOL_M = 0.5
SNAP_MAX_ABS_LAT = 72.0
# storage of the in-memory stage checkpoints. Measured on local[32]:
# deserialized MemoryStore caching of the wide nested coord arrays
# collapses under >=16 concurrent unrolling tasks (eviction thrash, 2-3x
# slowdown), while DISK_ONLY stays flat — the local shuffle disk is fast
# and columnar blocks compress.
DISK_ONLY = StorageLevel.DISK_ONLY


class _Prefetcher:
    """Overlaps driver-side plan building with executor compute.

    Building this pipeline's plans costs real serial driver time
    (Catalyst analysis + physical planning at every checkpoint
    boundary — measured ~2-3s per boundary on the sandbox VM, ~16s
    total) during which executors would otherwise sit idle. That is a
    FIXED cost, identical at N and 4N cores, so it directly caps
    scaling efficiency (Amdahl). The fix: as soon as a stage's lazy
    localCheckpoint exists, enqueue it here; one daemon thread
    materializes the queue IN ORDER (count() per stage) while the
    main thread keeps building downstream plans. Dependency order is
    preserved because stages are enqueued in topological order and
    consumed sequentially; concurrent downstream actions on a stage
    being materialized just block on the BlockManager's per-partition
    locks rather than recomputing.
    """

    def __init__(self) -> None:
        self._q: queue.Queue = queue.Queue()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while True:
            item = self._q.get()
            if item is None:
                return
            name, df = item
            try:
                # local properties are per thread: name this thread's jobs
                df.sparkSession.sparkContext.setJobDescription(
                    f"topo2osm:{name}")
                df.count()
            except Exception as e:
                # materialization errors surface on the caller's own
                # action with the full traceback; the warning here is
                # for debuggability (which stage, which error), not
                # error handling.
                logging.getLogger(__name__).warning(
                    "prefetch of stage %r failed (will resurface on the "
                    "caller's action): %s", name, e)

    def submit(self, df: DataFrame, name: str = "?") -> None:
        self._q.put((name, df))

    def close(self) -> None:
        self._q.put(None)


def explode_spans(docs: DataFrame) -> DataFrame:
    """S1: documents -> one row per span, keyed (doc_id, span_idx).
    span_idx is the ARRAY position (stable identity); span ORDER is
    `offset` (span-sequence invariant, BASELINE.json:15)."""
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select("doc_id", "span_idx", "span.kind", "span.text",
             "span.media_ref", "span.offset")


def echo_spans(docs: DataFrame) -> DataFrame:
    """The span-sequence invariant surface: spans sorted by offset.
    array_sort on struct(offset, …) — offset leads, so ordering is by
    offset; output must equal the input sequence exactly."""
    return docs.select(
        "doc_id",
        F.array_sort(F.transform(
            "spans",
            lambda s: F.struct(s["offset"].alias("offset"),
                               s["kind"].alias("kind"),
                               s["text"].alias("text"),
                               s["media_ref"].alias("media_ref")))).alias("spans_sorted"))


def run_pipeline(spark: SparkSession, docs: DataFrame,
                 warehouse: Warehouse | None = None, resume: bool = True,
                 run_pip: bool = True, run_tiles: bool = True,
                 input_fp: str | None = None,
                 cache_docs: bool | None = None) -> dict:
    """Full conversion; returns a dict of output DataFrames.

    Every multiply-consumed intermediate (parsed geometry, way nodes,
    node table, snap map, ways, PIP hit set) is a stage checkpoint: written
    through the warehouse when one is given, otherwise a lazy in-memory
    localCheckpoint that a background thread materializes while the
    rest of the plan is built (see ck() and _Prefetcher).

    input_fp: identity of the INPUT dataset, folded into the root of
    every stage fingerprint — resume against the same warehouse with a
    different input (path, corpus params, row count) recomputes instead
    of silently returning the previous input's checkpoints. Callers
    with file-backed input pass a content signature (jobs/convert.py
    hashes the file listing + sizes); synthesized corpora pass their
    generator params. None keeps the params-only fingerprint (callers
    that manage input identity themselves, e.g. tests on a fixed
    in-memory corpus).

    cache_docs: None (auto) caches the input documents when there is
    no warehouse; False never caches them (file-backed callers keep
    their pruned media scan). With a warehouse the input is never
    cached, so an explicit cache_docs=True is ignored there.
    """
    # the input fingerprint is the ROOT of the stage-fingerprint chain:
    # every ck() below folds ck_seq, so a changed input invalidates all
    # downstream checkpoints transitively.
    ck_seq = [f"input:{input_fp}"] if input_fp is not None else []
    # cache_docs: `docs` feeds THREE independent output branches (the
    # sosi parse chain, the span echo, the tile join's media re-scan).
    # When the input is a generator (mapInArrow synthesis — the bench
    # and scaling path), every branch re-runs the full Python corpus
    # generation: measured 3x ~8 s per e2e rep at 50k docs. One lazy
    # localCheckpoint materializes it once and the two re-scans read
    # cached blocks (guide §2.4: remove recomputed passes outright).
    # Auto policy: on for the in-memory checkpoint path; callers with
    # FILE-backed input pass cache_docs=False (jobs/convert.py) so the
    # media branch keeps its pruned parquet scan (ReadSchema
    # struct<kind,media_ref>) instead of a full cached-corpus read.
    docs_cached = warehouse is None and cache_docs is not False
    # every job started on this thread while planning (stage writes,
    # broadcast sides, which inherit the description) carries the name
    # of the stage that started it; the caller's own is restored at exit
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")

    def ck(df: DataFrame, name: str, *fp_parts) -> DataFrame:
        sc.setJobDescription(f"topo2osm:{name}")
        if warehouse is not None:
            fp = fingerprint(name, *fp_parts, *ck_seq)
            df, _ = warehouse.stage(df, name, fp, resume=resume)
            ck_seq.append(fp)
            return df
        # lazy localCheckpoint, not plain persist: persist keeps the
        # full logical lineage, so every downstream operation
        # re-analyzes (and every action re-optimizes) a plan that grows
        # with pipeline depth — measured ~50s of driver-side Catalyst
        # time per run at ANY data size, a fixed cost that caps scaling
        # efficiency; with no stage boundary at all (plain lineage) one
        # output's analyzed plan reached 66k lines. Checkpointing
        # truncates the plan to a leaf at each stage boundary (the
        # warehouse branch above gets the same truncation from its
        # parquet write+re-read).
        # "Lazy" is only partly lazy: localCheckpoint(eager=False)
        # still blocks the CALLING thread until every broadcast side of
        # its plan is computed (measured in isolation, local mode, AQE
        # off, 4 vCPUs: a broadcast join of a 3-s mapInPandas side
        # blocked 6.3 s, the same join without a broadcast 0.17 s).
        df = df.localCheckpoint(eager=False, storageLevel=DISK_ONLY)
        pf.submit(df, name)
        return df

    # in memory, each checkpointed stage starts materializing the
    # moment its plan exists, overlapping the remaining driver-side
    # plan building with executor compute (see _Prefetcher); the
    # warehouse path materializes eagerly through its parquet writes.
    pf = _Prefetcher() if warehouse is None else None
    try:
        if docs_cached:
            docs = docs.localCheckpoint(eager=False, storageLevel=DISK_ONLY)
            pf.submit(docs, "documents")

        spans = explode_spans(docs)

        # S2+S3 FUSED: tokenize + reproject in ONE Arrow pass — the coord
        # arrays never round-trip through the JVM between parse and
        # projection (BENCH/BASELINE.md r1 flagged the per-stage Python
        # handshakes as the dominant non-scaling cost).
        #
        # Round-robin rebalance BEFORE the Arrow pass: the parse is ~100x
        # the per-byte cost of the parquet scan, so scan bin-packing
        # (maxPartitionBytes sizes partitions for SCAN cost; 32 small files
        # coalesce to ~3 splits) would starve it, and Zipf-head documents
        # straggle any layout that keeps neighbors together. One narrow
        # shuffle of the raw span text is cheap next to tokenization and
        # buys even per-task work at any input file layout — the same
        # reasoning AQE's rebalance applies on a real cluster.
        # Exception (r6): when the docs table is OUR cached checkpoint with at
        # least core-count partitions, keep its layout — the generator
        # range-partitions by doc COUNT, so cached blocks are already
        # balanced and the span-text shuffle would be a pure extra pass
        # plus a barrier between generation and parse (measured ~1 s of
        # 7.7 at 50k docs). The rebalance repartition stays for file-backed
        # input, where scan bin-packing sizes splits for scan cost, not
        # parse cost (original rationale above).
        # The generator stamps its layout width into doc_id's column
        # metadata (sources/fixtures.documents_df) — the RDD API is off
        # limits here (static guard), so that stamp is how the plan learns
        # the input width without touching the RDD layer. Absent stamp (e.g.
        # createDataFrame inputs) -> conservative rebalance as before.
        # Keeping the generator's layout assumes parse COST per partition
        # is balanced, not just doc count: a partition holding several
        # Zipf-head (large) documents runs as one straggling task with no
        # 2x-parallelism headroom to absorb it.
        try:
            gen_parts = int(docs.schema["doc_id"].metadata.get(
                "gen_partitions", 0))
        except Exception:
            gen_parts = 0
        sosi_spans = spans.where(F.col("kind") == "sosi")
        if not (docs_cached and gen_parts >= sc.defaultParallelism):
            sosi_spans = sosi_spans.repartition(max(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                2 * sc.defaultParallelism))
        # S4 (ring assembly) is fused INTO the same Arrow pass: a FLATE
        # only references curves of its own span, so assembling while the
        # span is resident in the parse worker replaces the refs->curves
        # shuffle + per-FLATE regroup with span-local numpy. One persist
        # holds both row kinds.
        geo_all = ck(sosi.tokenize_project_assemble_spans(sosi_spans),
                     "geo_objects", SNAP_TOL_M)
        geo = geo_all.where(F.col("row_kind") == "obj") \
                     .drop("row_kind", "flate_id", "ring_idx", "is_hole",
                           "closed", "area", "n_curves", "n_orphan_refs")

        curves = geo.where(F.col("obj_kind") == "KURVE")
        flates = geo.where(F.col("obj_kind") == "FLATE")

        # S4 output: ring rows of the fused pass (ASSEMBLED_RINGS shape),
        # plus the document-wide fallback for flates the fused kernel
        # deferred (any ..REF without a curve in its own span — cross-span
        # documents; VERDICT r4 #2). The fallback is checkpointed so its
        # curve-table scan runs once, not on every rings consumer; its
        # output is empty on self-contained corpora.
        rings_local = geo_all.where(F.col("row_kind") == "ring").select(
            "doc_id", "span_idx", "flate_id", "objtype", "ring_idx",
            "is_hole", "lats", "lons", "closed", "area", "n_curves")
        orphan_flates = geo_all.where(
            (F.col("row_kind") == "obj") & (F.col("obj_kind") == "FLATE")
            & (F.col("n_orphan_refs") > 0))
        rings_xspan = ck(assembly.assemble_rings_docwide(orphan_flates, curves),
                         "rings_xspan")
        rings = rings_local.unionByName(rings_xspan)
        rings = rings.withColumn(
            "way_id", content_id("doc_id", "span_idx", F.lit("F"), "flate_id", "ring_idx"))

        # standalone curve ways: curves whose objtype is tagged as a KURVE way
        curve_ways = (curves.where(F.col("objtype").isin(*[
            ot for ot, gk, t in tags.TAG_TABLE if gk == "KURVE" and t is not None]))
            .withColumn("way_id", content_id("doc_id", "span_idx", F.lit("K"), "obj_id")))

        # unified way geometry (FLATE rings + tagged standalone curves);
        # curve ways get the real closed flag + the Kystkontur
        # water-on-the-right orientation repair (assembly.py)
        ring_geoms = rings.select(
            "way_id", "doc_id", "span_idx", "objtype",
            F.lit("FLATE").alias("geom_kind"), "lats", "lons", "closed",
            "is_hole", "ring_idx", "flate_id",
            F.lit(None).cast("double").alias("height"))
        curve_geoms = assembly.orient_closed_curve_ways(curve_ways.select(
            "way_id", "doc_id", "span_idx", "objtype",
            F.lit("KURVE").alias("geom_kind"), "lats", "lons",
            F.lit(False).alias("closed"), F.lit(False).alias("is_hole"),
            F.lit(0).alias("ring_idx"), F.col("obj_id").alias("flate_id"),
            "height"))
        way_geoms = ring_geoms.unionByName(curve_geoms)

        # S5: explode to way-nodes, quantize (content-addressed node ids)
        way_nodes = nodeops.quantize(
            way_geoms.select(
                "doc_id", "way_id",
                F.posexplode(F.arrays_zip("lats", "lons")).alias("pos", "ll"))
            .select("doc_id", "way_id", "pos",
                    F.col("ll.lats").alias("lat"), F.col("ll.lons").alias("lon")))
        way_nodes = ck(way_nodes, "way_nodes")

        # PUNKT + TEKST coordinates join the shared node space: the
        # reference keeps ONE coordinate-keyed node dict across all object
        # kinds (SURVEY.md §2 op 33), so a peak marker or elevation label
        # on a way vertex shares that vertex's node.
        punkt_points = (geo.where(F.col("obj_kind").isin("PUNKT", "TEKST"))
                        .select(F.element_at("lats", 1).alias("lat"),
                                F.element_at("lons", 1).alias("lon"))
                        .where(F.col("lat").isNotNull()))
        all_points = way_nodes.select("lat", "lon").unionByName(punkt_points)
        # checkpointed: the snap map reads it twice (hot-bin count and
        # bin probe), the output node table once
        nodes_raw = ck(nodeops.dedup_nodes(all_points), "nodes_raw")

        # S6: kNN tolerance snap. The explicit latitude cap
        # (SNAP_MAX_ABS_LAT; executor-side guard raises loudly on data
        # beyond it) avoids snap_mapping's derive-by-agg DRIVER BARRIER:
        # with the barrier, the upstream chain must fully materialize
        # before the driver can build a single downstream plan — a fixed
        # serial cost that caps N->4N scaling efficiency.
        # The mapping carries the canonical node's published coordinate
        # straight out of the union-find, so the points path below reads
        # the tiny cached map instead of re-scanning the node table.
        # "v3" in the fingerprint: exact components; a checkpoint
        # from the old label propagation (which could leave two canons in
        # one component) must recompute, never resume.
        snap_map = ck(nodeops.snap_mapping(nodes_raw, tol_m=SNAP_TOL_M,
                                           max_abs_lat=SNAP_MAX_ABS_LAT),
                      "snap_map", "v3", SNAP_TOL_M, SNAP_MAX_ABS_LAT)
        nodes_out = ck(nodeops.snap_nodes_table(nodes_raw, snap_map), "nodes")

        # S7: re-collect way node lists in position order through the snap
        # map, then drop CONSECUTIVE duplicate ids: two adjacent vertices
        # that quantize/snap to the same node would emit repeated <nd> refs
        # (invalid OSM way geometry). First==last on closed rings survives
        # (they are never adjacent). JVM HOF filter — no Python.
        wn = nodeops.apply_snap(way_nodes.select("way_id", "pos", "node_id"),
                                snap_map)
        nids = F.transform("pn", lambda x: x["node_id"])
        way_node_lists = (wn.groupBy("way_id")
                            .agg(F.array_sort(F.collect_list(F.struct("pos", "node_id")))
                                  .alias("pn"))
                            .select("way_id",
                                    F.filter(nids, lambda x, i:
                                             (i == F.lit(0))
                                             | (x != F.element_at(nids, i)))
                                     .alias("node_ids")))

        # S8: tag lookup on way metadata (+ ele from NØH heights),
        # then split >MAX_WAY_NODES ways into chained parts sharing their
        # junction endpoint nodes (OSM 2000-node hard limit)
        way_meta = way_geoms.drop("lats", "lons")
        tagged = tags.with_ele(tags.join_tags(way_meta, spark))
        ways_presplit = (tagged.join(way_node_lists, "way_id")
                         .withColumn("n_nodes", F.size("node_ids")))
        ways = ck(splitops.split_long_ways(ways_presplit), "ways")
        # multipolygons of holed FLATEs and of split closed rings, with
        # split members already expanded (one grouping of the ways)
        relations = splitops.relations_from_ways(ways)

        # ...KP junction markers: every KP-marked coordinate must survive
        # quantize+snap as a node in the output table (the reference uses
        # junction points to stitch curve chains; here they are an
        # integrity contract on the dedup/snap path).
        kp_pts = (geo.where(F.size("kp") > 0)
                  .select("doc_id", "span_idx", "obj_id",
                          F.explode("kp").alias("ki"), "lats", "lons")
                  .select("doc_id", "span_idx", "obj_id",
                          F.get("lats", F.col("ki")).alias("lat"),
                          F.get("lons", F.col("ki")).alias("lon"))
                  .where(F.col("lat").isNotNull()))
        kp_snapped = nodeops.apply_snap(
            nodeops.quantize(kp_pts).select("doc_id", "span_idx", "obj_id",
                                            "node_id"),
            snap_map)
        kp_missing = (kp_snapped
                      .join(nodes_out.select("node_id"), "node_id", "left_anti")
                      .select(F.lit("kp_node_missing").alias("issue"),
                              "doc_id", "span_idx", "obj_id"))

        # tagged point features (SURVEY.md §2 op 9): PUNKT objects
        # (Høydepunkt -> natural=peak) and TEKST elevation labels
        # (Høydetall -> ele=<STRENG>), routed through the same tag lookup
        # as ways. node_id goes through quantize+snap, so a label
        # sitting on a way vertex resolves to that vertex's canonical node.
        # Published lat/lon are the CANONICAL node's coordinates
        # (snap_points), so a consumer joining points to nodes on node_id
        # never sees divergent positions.
        point_objs = (geo.where(F.col("obj_kind").isin("PUNKT", "TEKST"))
                      .select("doc_id", "span_idx", "obj_id", "objtype", "streng",
                              F.col("obj_kind").alias("geom_kind"),
                              F.element_at("lats", 1).alias("lat"),
                              F.element_at("lons", 1).alias("lon"))
                      .where(F.col("lat").isNotNull()))
        tagged_pts = tags.with_streng_ele(tags.join_tags(point_objs, spark))
        points_out = (nodeops.snap_points(tagged_pts, snap_map)
                      .where(F.col("emit"))
                      .select("node_id", "doc_id", "span_idx", "obj_id",
                              "objtype", "lat", "lon", "tags"))

        out = {
            "spans": spans,
            "objects": geo,
            "points": points_out,
            "rings": rings,
            "nodes": nodes_out,
            "ways": ways,
            "relations": relations,
            "echo": echo_spans(docs),
            "integrity": assembly.integrity_report(flates, curves)
                                 .unionByName(kp_missing),
            # named intermediates for the perfbench layer tracer and
            # scripts/check_shard_consistency.py — lazy, zero cost unless
            # a caller acts on them
            "_internal": {
                "way_nodes": way_nodes,
                "snap_map": snap_map,
                "tagged_ways_presplit": ways_presplit,
                "curves": curves,
            },
        }

        if run_pip:
            # S9a: FLATE interior-point membership (op 14), HOLE-AWARE.
            # Candidates come from ALL closed rings (outer + holes) of each
            # FLATE; a point is contained in the flate iff it is inside at
            # least one outer ring AND inside no hole ring — a point
            # sitting in a lake ring punched out of a forest FLATE is NOT
            # in the forest. One extra small groupBy over the hit set;
            # candidate generation stays the same cell equi-join.
            pts = (flates.where(F.size("lats") > 0)
                   .withColumn("pt_uid", content_id("doc_id", "span_idx", F.lit("P"), "obj_id"))
                   .select("pt_uid", F.col("doc_id").alias("pt_doc"),
                           F.col("obj_id").alias("pt_flate"),
                           F.element_at("lats", 1).alias("lat"),
                           F.element_at("lons", 1).alias("lon")))
            closed_rings = (rings.where(F.col("closed"))
                            .withColumn("ring_uid", F.col("way_id")))
            hits = pip.pip_join(
                pts.select("pt_uid", "lat", "lon"), closed_rings,
                ["pt_uid"], ["ring_uid"])
            ring_meta = closed_rings.select(
                "ring_uid", F.col("doc_id").alias("ring_doc_id"), "span_idx",
                F.col("flate_id").alias("ring_flate_id"),
                F.col("objtype").alias("ring_objtype"), "is_hole", "area")
            # ONE hit set, two consumers: membership and islands both read
            # this checkpointed (hit ⋈ ring_meta) set, so the ring cover,
            # point ladder, candidate join and refine run once per
            # conversion instead of once per write. Candidate generation
            # is JVM expressions with no broadcast side, so the lazy
            # checkpoint waits for no job on this thread (see ck()); in
            # memory the prefetch thread runs the whole PIP plan on idle
            # executors while the caller writes the earlier outputs.
            hitm = ck(hits.join(ring_meta, "ring_uid"), "pip_hits")
            pt_meta = pts.select("pt_uid", "pt_doc", "pt_flate").join(
                flates.select(F.col("doc_id").alias("pt_doc"),
                              F.col("obj_id").alias("pt_flate"),
                              F.col("objtype").alias("pt_objtype")),
                ["pt_doc", "pt_flate"])
            flate_member = (hitm.groupBy("pt_uid", "ring_doc_id", "span_idx",
                                         "ring_flate_id", "ring_objtype")
                            .agg(F.max((~F.col("is_hole")).cast("int")).alias("in_outer"),
                                 F.max(F.col("is_hole").cast("int")).alias("in_hole"))
                            .where((F.col("in_outer") == 1) & (F.col("in_hole") == 0))
                            .drop("in_outer", "in_hole"))
            out["membership"] = (flate_member
                .join(pt_meta, "pt_uid")
                .select(F.col("pt_doc").alias("doc_id"),
                        F.col("pt_flate").alias("flate_id"), "pt_objtype",
                        "ring_doc_id", "span_idx", "ring_flate_id",
                        "ring_objtype"))

            # island containment hierarchy (SURVEY.md §2.12): a land-class
            # FLATE whose interior point falls inside a DIFFERENT water-class
            # FLATE's OUTER ring is an island of that water body. Containment
            # here is deliberately outer-only: an island typically coincides
            # with a hole punched in the water polygon, so hole-subtracted
            # membership would erase exactly the rows this surface exists
            # for. When water bodies nest (lake on an island in a bigger
            # lake), the island is attributed to the SMALLEST containing
            # water ring — row_number over ring area with id tie-breaks.
            water_types = ("Innsjø", "InnsjøRegulert", "ElvBekk", "Havflate")
            land_types = ("Skog", "Myr", "DyrketMark", "SnøIsbre")
            from pyspark.sql import Window as _W
            outer_hits = (hitm.where(~F.col("is_hole"))
                          .join(pt_meta, "pt_uid")
                          .where(F.col("ring_objtype").isin(*water_types)
                                 & F.col("pt_objtype").isin(*land_types)
                                 & ~((F.col("pt_doc") == F.col("ring_doc_id"))
                                     & (F.col("pt_flate") == F.col("ring_flate_id")))))
            w_small = _W.partitionBy("pt_uid").orderBy(
                "area", "ring_doc_id", "ring_flate_id", "span_idx")
            out["islands"] = (outer_hits
                .withColumn("__rn", F.row_number().over(w_small))
                .where(F.col("__rn") == 1)
                .select(F.col("pt_doc").alias("doc_id"),
                        F.col("pt_flate").alias("flate_id"),
                        F.col("pt_objtype").alias("island_objtype"),
                        "ring_doc_id",
                        F.col("ring_flate_id").alias("water_flate_id"),
                        F.col("ring_objtype").alias("water_objtype")))
            # oracle/diagnostic surfaces for the PIP suite
            out["_internal"]["pip_points"] = pts.join(pt_meta.select(
                "pt_uid", "pt_objtype"), "pt_uid")
            out["_internal"]["pip_rings"] = closed_rings.select(
                "ring_uid", "doc_id", "span_idx", "flate_id", "objtype",
                "is_hole", "area", "lats", "lons")

        if run_tiles:
            # S9b: raster<->vector join — tiles containing >=1 way node.
            # The media side re-scans the input, and it must NOT pay for
            # the text column: Spark's nested pruning through explode()
            # only fires when exactly ONE struct field is accessed
            # (GeneratorNestedColumnAliasing bails at two — measured:
            # kind+media_ref through posexplode reads the FULL span struct
            # incl. text), so extract the two needed fields as parallel
            # arrays (array-of-field extraction DOES prune) and zip them.
            # ReadSchema: struct<kind,media_ref> — the text bytes, the
            # bulk of the table, never leave the parquet reader.
            media_spans = (docs.select(
                "doc_id",
                F.explode(F.arrays_zip(
                    F.col("spans.kind").alias("kind"),
                    F.col("spans.media_ref").alias("media_ref"))).alias("s"))
                .where(F.col("s.kind") == "media")
                .select("doc_id", F.col("s.media_ref").alias("media_ref")))
            media = tiles.parse_media_refs(media_spans)
            vector_cells = (way_nodes
                            .withColumn("cell", tiles.cell_at_vector_res("lat", "lon"))
                            .select("doc_id", "way_id", "cell"))
            out["tile_assignments"] = tiles.tile_vector_join(media, vector_cells)

        return out
    finally:
        # the thread drains its queue and exits; a call that raised
        # while planning would otherwise leave it blocked forever
        if pf is not None:
            pf.close()
        sc.setJobDescription(caller_desc)
