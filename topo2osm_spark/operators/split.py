""">2000-node way splitting (OSM hard limit; SURVEY.md §7.3.2).

OSM rejects ways with more than 2000 nodes, so a fjord-length
coastline ring or a large sea polygon must be emitted as CHAINED ways
that share their endpoint nodes, with a multipolygon relation
referencing every piece [U: topo2osm.py::way-length split;
mount empty, SURVEY.md §0].

All splitting is JVM-side array math (sequence + explode + slice) —
no Python, no shuffle beyond the explode's narrow fan-out:

    part i of a way covers node indices [i*(max-1), i*(max-1)+max)
    (1-based slice), so consecutive parts overlap in exactly one node
    — the shared junction that keeps the chain topologically connected.

Split part ids are content-addressed (content_id(parent, part)), so
they are stable across partitionings and cluster sizes like every
other engine id. Every relation is built from the split ways in one
grouping (relations_from_ways), so its members are already the parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from topo2osm_spark.functions.ids import content_id

MAX_WAY_NODES = 2000


def split_long_ways(ways: DataFrame,
                    max_nodes: int = MAX_WAY_NODES) -> DataFrame:
    """ways(way_id, node_ids, …) -> same columns + (parent_way_id,
    part, n_parts) with every output way holding <= max_nodes nodes.

    Ways already within the limit pass through unchanged (part 0,
    n_parts 1, way_id preserved). Split parts get
    content_id(parent_way_id, part) ids; `n_nodes` is recomputed."""
    step = max_nodes - 1  # consecutive parts share one endpoint node
    n = F.size("node_ids")
    with_np = ways.withColumn(
        "n_parts",
        F.greatest(F.lit(1), F.ceil((n - F.lit(1)) / F.lit(step)).cast("int")))
    parts = with_np.withColumn(
        "part", F.explode(F.sequence(F.lit(0), F.col("n_parts") - 1)))
    return (parts
            .withColumn("parent_way_id", F.col("way_id"))
            .withColumn("node_ids", F.slice(
                "node_ids", F.col("part") * step + 1, max_nodes))
            .withColumn("way_id", F.when(
                F.col("n_parts") > 1,
                content_id("parent_way_id", "part")).otherwise(F.col("way_id")))
            .withColumn("n_nodes", F.size("node_ids")))


def relations_from_ways(ways: DataFrame) -> DataFrame:
    """Every relation, from the split ways in one grouping.

    ways: split_long_ways output with doc_id, span_idx, geom_kind,
    flate_id (a curve way's obj_id), ring_idx, is_hole, closed, emit and
    tags. Each (doc_id, span_idx, geom_kind, flate_id) group emits:

    - a FLATE with any hole ring: its multipolygon, rel_id
      content_id(doc_id, span_idx, "R", flate_id), every ring's parts in
      (ring_idx, part) order, role inner for holes and outer otherwise
      (kept when emit is false: a Havflate's relation has {} tags);
    - any other group: one multipolygon per split closed emitting ring,
      rel_id content_id(parent_way_id, "SR"), its parts in order as
      outer members — a split ring no longer carries its area alone.

    A group's ways share one tag map (FLATE rings share the objtype and
    have no height for with_ele; a curve group is one object), so the
    relation takes the first."""
    member = F.struct(
        F.when(F.col("is_hole"), F.lit("inner")).otherwise(F.lit("outer"))
         .alias("role"), "way_id")
    groups = (ways.groupBy("doc_id", "span_idx", "geom_kind", "flate_id")
              .agg(F.bool_or("is_hole").alias("holed"),
                   F.first("tags").alias("tags"),
                   F.array_sort(F.collect_list(F.struct(
                       "ring_idx", "part", "parent_way_id",
                       ((F.col("n_parts") > 1) & F.col("closed")
                        & F.col("emit")).alias("sr"),
                       member.alias("member")))).alias("ws")))
    ws = F.col("ws")
    multipolygon = F.array(F.struct(
        content_id("doc_id", "span_idx", F.lit("R"), "flate_id").alias("rel_id"),
        F.transform(ws, lambda w: w["member"]).alias("members")))
    split_rings = F.transform(
        F.filter(ws, lambda w: w["sr"] & (w["part"] == 0)),
        lambda p: F.struct(
            content_id(p["parent_way_id"], F.lit("SR")).alias("rel_id"),
            F.transform(F.filter(ws, lambda w: w["parent_way_id"]
                                 == p["parent_way_id"]),
                        lambda w: w["member"]).alias("members")))
    return (groups
            .select("doc_id", "span_idx", "flate_id", "tags",
                    F.explode(F.when(F.col("holed"), multipolygon)
                              .otherwise(split_rings)).alias("r"))
            .select("r.rel_id", "doc_id", "span_idx", "flate_id", "r.members",
                    "tags", F.lit("multipolygon").alias("rel_type")))
