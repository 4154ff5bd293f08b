"""Traced layer isolation: each layer's public function is called on
inputs that were materialized first (from the warehouse checkpoints
and the resumed run's plans), and one noop-sink action on its result is
timed inside a span. Counts are taken outside the spans.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Held:
    """Materialized inputs of one layer, released on exit."""

    def __init__(self) -> None:
        self._dfs = []

    def __call__(self, df):
        df = df.cache()
        df.count()
        self._dfs.append(df)
        return df

    def __enter__(self) -> "_Held":
        return self

    def __exit__(self, *exc) -> None:
        for df in self._dfs:
            df.unpersist()


def trace_layers(spark, tracer, out: dict, wh_root: str,
                 input_path: str, n_parse: int) -> dict[str, float]:
    """Run every layer once under `tracer`; return per-layer metrics."""
    from topo2osm_spark.operators import (assembly, nodes as nodeops, pip,
                                          split as splitops, tags, tiles)
    from topo2osm_spark.plans.pipeline import explode_spans
    from topo2osm_spark.sources import sosi
    from topo2osm_spark.sources.warehouse import Warehouse

    m: dict[str, float] = {}
    wh = Warehouse(spark, wh_root)
    man = {name: wh.manifest(name) for name in sorted(os.listdir(wh_root))}
    man = {name: mf for name, mf in man.items() if mf is not None}
    geo_all = wh.read("geo_objects")
    internal = out["_internal"]

    # sources.sosi: the fused tokenize+project+assemble pass over the
    # SOSI spans, spread over the pipeline's parse partition count
    with _Held() as hold:
        spans = hold(explode_spans(spark.read.parquet(input_path))
                     .where(F.col("kind") == "sosi").repartition(n_parse))
        with tracer.span("sosi.parse"):
            _noop(sosi.tokenize_project_assemble_spans(spans))
        m["sosi.spans_in"] = spans.count()
        m["sosi.text_mb_in"] = spans.agg(
            F.sum(F.octet_length("text"))).first()[0] / 1e6
    kinds = dict(geo_all.groupBy("row_kind").count().collect())
    m["sosi.parse_s"] = tracer.duration("sosi.parse")
    m["sosi.objects_out"] = kinds.get("obj", 0)
    m["sosi.rings_out"] = kinds.get("ring", 0)
    m["sosi.task_skew"] = tracer.counter("sosi.parse", "task_skew")

    # operators.assembly: document-wide assembly of cross-span FLATEs
    with _Held() as hold:
        orphans = hold(geo_all.where(
            (F.col("row_kind") == "obj") & (F.col("obj_kind") == "FLATE")
            & (F.col("n_orphan_refs") > 0)))
        curves = hold(internal["curves"])
        with tracer.span("assembly.xspan"):
            _noop(assembly.assemble_rings_docwide(orphans, curves))
        m["assembly.orphan_flates"] = orphans.count()
    m["assembly.xspan_s"] = tracer.duration("assembly.xspan")

    # operators.nodes: dedup of all way/point coordinates, then snap
    geo = out["objects"]
    with _Held() as hold:
        punkt = (geo.where(F.col("obj_kind").isin("PUNKT", "TEKST"))
                 .select(F.element_at("lats", 1).alias("lat"),
                         F.element_at("lons", 1).alias("lon"))
                 .where(F.col("lat").isNotNull()))
        points = hold(internal["way_nodes"].select("lat", "lon")
                      .unionByName(punkt))
        with tracer.span("nodes.dedup"):
            _noop(nodeops.dedup_nodes(points))
        nodes_raw = hold(wh.read("nodes_raw"))
        with tracer.span("nodes.snap"):
            _noop(nodeops.snap_mapping(nodes_raw, tol_m=0.5,
                                       max_abs_lat=72.0))
        m["nodes.points_in"] = points.count()
        m["nodes.nodes_out"] = nodes_raw.count()
    m["nodes.dedup_s"] = tracer.duration("nodes.dedup")
    m["nodes.snap_s"] = tracer.duration("nodes.snap")
    m["nodes.snap_merges"] = man["snap_map"]["rows"]
    for key in ("shuffle_mb", "spill_mb"):
        m[f"nodes.{key}"] = (tracer.counter("nodes.dedup", key)
                             + tracer.counter("nodes.snap", key))

    # operators.split and operators.tags on the tagged, unsplit ways
    with _Held() as hold:
        presplit = hold(internal["tagged_ways_presplit"])
        with tracer.span("split"):
            _noop(splitops.split_long_ways(presplit))
        m["split.ways_split"] = presplit.where(
            F.col("n_nodes") > splitops.MAX_WAY_NODES).count()
        meta = hold(presplit.drop("tags", "emit", "node_ids"))
        with tracer.span("tags.join"):
            _noop(tags.join_tags(meta, spark))
    m["split.s"] = tracer.duration("split")
    m["tags.join_s"] = tracer.duration("tags.join")

    # operators.pip: ring cover cells, then the full candidate join and
    # ray-cast refine of FLATE interior points against closed rings
    with _Held() as hold:
        pts = hold(internal["pip_points"].select("pt_uid", "lat", "lon"))
        rings = hold(internal["pip_rings"].select("ring_uid", "lats",
                                                  "lons"))
        with tracer.span("pip.cover"):
            _noop(pip.ring_cover_cells(rings, ["ring_uid"]))
        with tracer.span("pip.join"):
            _noop(pip.pip_join(pts, rings, ["pt_uid"], ["ring_uid"]))
        cover = hold(pip.ring_cover_cells(rings, ["ring_uid"]))
        m["pip.points"] = pts.count()
        m["pip.cover_cells"] = cover.count()
        m["pip.candidates"] = (
            pts.withColumn("cell", F.explode(pip.point_cell_ladder(
                "lat", "lon")))
            .join(cover, "cell")
            .dropDuplicates(["pt_uid", "ring_uid"]).count())
        m["pip.hits"] = pip.pip_join(pts, rings, ["pt_uid"],
                                     ["ring_uid"]).count()
    m["pip.cover_s"] = tracer.duration("pip.cover")
    m["pip.join_s"] = tracer.duration("pip.join")
    m["pip.hit_ratio"] = m["pip.hits"] / max(1, m["pip.candidates"])
    m["pip.shuffle_mb"] = tracer.counter("pip.join", "shuffle_mb")
    m["pip.task_skew"] = tracer.counter("pip.join", "task_skew")

    # operators.tiles: per-document raster<->vector tile join
    with _Held() as hold:
        docs = spark.read.parquet(input_path)
        media_spans = (docs.select(
            "doc_id",
            F.explode(F.arrays_zip(
                F.col("spans.kind").alias("kind"),
                F.col("spans.media_ref").alias("media_ref"))).alias("s"))
            .where(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))
        media = hold(tiles.parse_media_refs(media_spans))
        cells = hold(internal["way_nodes"]
                     .withColumn("cell", tiles.cell_at_vector_res("lat", "lon"))
                     .select("doc_id", "way_id", "cell"))
        with tracer.span("tiles.join"):
            _noop(tiles.tile_vector_join(media, cells))
        m["tiles.media_spans"] = media.count()
    m["tiles.join_s"] = tracer.duration("tiles.join")

    # sources.warehouse read path: resolve every stage through
    # Warehouse.stage (resume) and scan what it returns
    with tracer.span("warehouse.load"):
        for name, mf in man.items():
            # a complete stage never touches the df argument
            df, _ = wh.stage(None, name, mf["fingerprint"])
            _noop(df)
    m["warehouse.load_s"] = tracer.duration("warehouse.load")
    m["warehouse.write_s"] = sum(mf["wall_ms"] for mf in man.values()) / 1e3
    return m
