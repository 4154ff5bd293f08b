"""Shared-node dedup + kNN tolerance snap (SURVEY.md §2 ops 12, 13).

The reference keeps a dict keyed on rounded (lat, lon): identical
coordinates become ONE OSM node, and near-duplicates within a merge
tolerance are snapped together [U: topo2osm.py::node dict +
duplicate-node matching; mount empty, SURVEY.md §0]. Distributed
re-expression:

op 12 (exact dedup) needs NO join at all: the node id is a pure
function of the quantized coordinate (63-bit `content_id(qlat,
qlon)`, functions/ids.py), so
every way computes its node ids locally (map-side); the `nodes`
table is a groupBy over the quantized key. The reference's implicit
hash-dict becomes a hash *function* — zero shuffle on the way side.

op 13 (tolerance snap) is a binned candidate search: nodes go to
shifted-grid bins at least twice the tolerance wide, pairs inside a
multi-node bin are refined by planar distance, and the resulting
merge-candidate edges — a tiny set — are resolved into exact connected
components by one grouped Arrow call running a numpy union-find, which
also hands back each canon's coordinate. Within-tolerance chains that
stretch a component past 8 tolerances are degenerate input
(SURVEY.md §7.3) and raise instead of snapping far.

Scale notes: the candidate search is a count-agg over int64 bin keys
and a broadcast probe of the multi-node bins, which stay small even on
a dense coast because a bin is ~2 m wide. The snap mapping
(non-identity labels only) is tiny relative to the node set, so the
way-side rewrite join broadcasts when small and AQE-shuffles
otherwise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from topo2osm_spark.functions.ids import content_id

QUANT = 7  # decimals — the reference's node-coordinate rounding contract


def quantize(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Add qlat/qlon (1e-7 deg int grid) and the content-addressed
    node_id = content_id(qlat, qlon). Pure map-side — no shuffle."""
    return (df
            .withColumn("qlat", F.round(F.col(lat_col) * F.lit(10.0 ** QUANT)).cast("long"))
            .withColumn("qlon", F.round(F.col(lon_col) * F.lit(10.0 ** QUANT)).cast("long"))
            .withColumn("node_id", content_id("qlat", "qlon")))


def dedup_nodes(point_df: DataFrame) -> DataFrame:
    """op 12: quantized points -> one row per distinct node with a
    reference count. Partial aggregation (map-side combine) is free.

    node_id is a pure function of (qlat, qlon), so it is NOT an
    aggregation key (r6): grouping on the two coordinate ints narrows
    the partial-agg exchange rows by a third (mostly-singleton groups
    barely combine map-side, so the exchange carries ~every group) and
    the 2.3M hashes move to the reduce side — identical output."""
    q = quantize(point_df)
    return (q.groupBy("qlat", "qlon")
             .agg(F.count(F.lit(1)).cast("int").alias("n_refs"))
             .withColumn("node_id", content_id("qlat", "qlon"))
             .withColumn("lat", F.col("qlat") / F.lit(10.0 ** QUANT))
             .withColumn("lon", F.col("qlon") / F.lit(10.0 ** QUANT))
             .select("node_id", "lat", "lon", "n_refs"))


_M_PER_DEG = 111320.0
_SNAP_SCHEMA = "node_id long, canon_id long, c_lat double, c_lon double"
# farthest a node may lie from its canon, in merge tolerances
_MAX_CANON_TOLS = 8.0


def snap_mapping(nodes: DataFrame, tol_m: float = 0.5,
                 max_abs_lat: float | None = None) -> DataFrame:
    """op 13: (node_id, lat, lon) -> (node_id, canon_id, c_lat, c_lon)
    for nodes that snap to a lower-id node within tol_m; c_lat/c_lon
    are the canon's own coordinate. Identity rows are omitted.

    Shape (one count-agg shuffle over the bin keys, then two shuffles
    of merge-candidate size):

    1. shifted-grid candidate groups: bins of size g = 4*tol in both
       axes at 4 half-cell offsets — the classic guarantee that any
       pair within tol <= g/2 shares at least one bin (JVM floor math,
       4x map-side replication, no Python, no k-ring join);
    2. x<y pair generation + exact planar distance filter as JVM
       higher-order functions over the (tiny minority of) multi-node
       bins -> an edge per merge candidate carrying both ends' ids and
       coordinates (repeats across the 4 grids are harmless);
    3. exact connected components in ONE grouped Arrow call over the
       whole edge set: a numpy union-find (min-label hooking over both
       edge directions, then pointer jumping, to a fixpoint) whose
       canon is the component min id. The canon's coordinate comes
       from the edge rows, so no join back to the node table.

    Loud failure: a within-tolerance chain is degenerate input
    (components are 2-4 nodes, SURVEY.md §7.3). If any node lies more
    than 8*tol_m (4 m at the default 0.5 m) from its canon, the call
    raises ValueError ("... did not converge ...") instead of snapping
    it that far. A chain of up to 9 nodes (at most 8*tol_m long) always
    passes, whatever the order of its ids.

    g_lon uses cos(max_abs_lat) so the bin guarantee holds at the
    highest latitude in the data. Two ways to establish that bound,
    both loud — within-tolerance merges can never be missed silently:

    - max_abs_lat=None (default): derive it with one scalar max-agg
      over the (persisted) node table — a metadata-cheap job, never a
      data collect. Semantically safest, but the .first() is a DRIVER
      BARRIER: the whole upstream chain must materialize before any
      downstream plan can even be built, serializing plan-building
      with execution (a fixed cost that caps scaling efficiency).
    - max_abs_lat=<cap>: barrier-free. The caller asserts a bound
      (e.g. 72° covers mainland Norway) and the bins are computed for
      that worst case; an executor-side guard raises on the first row
      whose |lat| exceeds the cap, so polar data fails loudly with a
      "pass a higher max_abs_lat" message instead of under-merging.

    Lower latitudes than the bound just get slightly over-wide bins
    (more candidates, same answer). Dense-coast hot bins stay small
    because g is ~2 m. The edge set is merge-candidate sized, so one
    group holds it all (the hot-bin broadcast makes the same bet); if
    it ever outgrows one worker, group by a coarse shifted bin instead.
    """
    import math
    guard = max_abs_lat is not None
    if max_abs_lat is None:
        row = nodes.agg(F.max(F.abs(F.col("lat"))).alias("m")).first()
        max_abs_lat = min(float(row["m"] or 0.0) + 0.01, 89.0)
    g_lat = 4.0 * tol_m / _M_PER_DEG
    g_lon = 4.0 * tol_m / (_M_PER_DEG * max(math.cos(math.radians(max_abs_lat)), 0.05))

    # the guard is folded into the bin key itself (the `by` floor), so
    # it is evaluated for EVERY row — including singleton-bin rows that
    # column pruning would otherwise drop — and cannot be optimized out.
    lat_bin = F.col("lat")
    if guard:
        lat_bin = F.when(F.abs(F.col("lat")) <= F.lit(max_abs_lat), F.col("lat")) \
                   .otherwise(F.raise_error(F.concat(
                       F.lit("snap_mapping: |lat| "),
                       F.abs(F.col("lat")).cast("string"),
                       F.lit(f" exceeds max_abs_lat={max_abs_lat}; pass a "
                             "higher max_abs_lat (or None to derive it)"))))
    binned = nodes.select(
        "node_id", "lat", "lon",
        F.explode(F.array(*[
            F.struct(
                F.lit(oy * 2 + ox).alias("grid"),
                F.floor(lat_bin / g_lat + oy * 0.5).alias("by"),
                F.floor(F.col("lon") / g_lon + ox * 0.5).alias("bx"))
            for oy in (0, 1) for ox in (0, 1)])).alias("b"))

    # Multi-node bins are a tiny minority (singleton bins can never
    # produce a pair), so find them with a PRIMITIVE codegen count-agg
    # first and only then pay collect_list: an ObjectHashAggregate
    # building one array per bin over all 4xN rows sort-spills on the
    # ~N mostly-singleton groups and was the single largest core stage
    # at 128k docs (~40% of core). The hot-bin set is merge-candidate
    # sized -> broadcast probe; on a real cluster AQE swaps in a
    # shuffle join if it ever outgrows the broadcast threshold.
    binned = binned.select("node_id", "lat", "lon", "b.grid", "b.by", "b.bx")
    hot = (binned.groupBy("grid", "by", "bx")
           .agg(F.count(F.lit(1)).alias("c"))
           .where(F.col("c") >= 2)
           .select("grid", "by", "bx"))
    multi = (binned.join(F.broadcast(hot), ["grid", "by", "bx"])
             .groupBy("grid", "by", "bx")
             .agg(F.collect_list(F.struct("node_id", "lat", "lon")).alias("pts"))
             .select("pts"))

    # pairs x < y within a bin: nested transform + flatten, then the
    # planar tolerance test in codegen. One direction per pair is
    # enough for a union-find, which also shrugs off the 4-grid repeats.
    pts = F.col("pts")
    pairs = F.flatten(F.transform(
        pts, lambda x: F.transform(
            F.filter(pts, lambda y: y["node_id"] > x["node_id"]),
            lambda y: F.struct(
                x["node_id"].alias("a"), x["lat"].alias("a_lat"),
                x["lon"].alias("a_lon"),
                y["node_id"].alias("b"), y["lat"].alias("b_lat"),
                y["lon"].alias("b_lon"),
                ((x["lat"] - y["lat"]) * F.lit(_M_PER_DEG)).alias("dy"),
                ((x["lon"] - y["lon"]) * F.lit(_M_PER_DEG)
                 * F.cos(F.radians((x["lat"] + y["lat"]) / F.lit(2.0)))).alias("dx")))))
    edges = (multi
             .select(F.explode(F.filter(
                 pairs, lambda p: p["dy"] * p["dy"] + p["dx"] * p["dx"]
                 <= F.lit(tol_m * tol_m))).alias("e"))
             .select("e.a", "e.a_lat", "e.a_lon", "e.b", "e.b_lat", "e.b_lon"))
    # a bare lit(0) would be read as a GROUP BY ordinal
    return edges.groupBy(F.lit(0).alias("g")).applyInPandas(
        lambda e: _snap_components(e, tol_m), _SNAP_SCHEMA)


def _snap_components(edges: pd.DataFrame, tol_m: float) -> pd.DataFrame:
    """Union-find over one group of (a, a_lat, a_lon, b, b_lat, b_lon)
    edges -> (node_id, canon_id, c_lat, c_lon) for every non-canon
    node; the canon is the component's min id."""
    n_e = len(edges)
    ids, inv = np.unique(np.concatenate([edges["a"].to_numpy(),
                                         edges["b"].to_numpy()]),
                         return_inverse=True)
    # ids are sorted, so the min index of a component is its min id
    ia, ib = inv[:n_e], inv[n_e:]
    lat, lon = np.empty(len(ids)), np.empty(len(ids))
    lat[inv] = np.concatenate([edges["a_lat"].to_numpy(),
                               edges["b_lat"].to_numpy()])
    lon[inv] = np.concatenate([edges["a_lon"].to_numpy(),
                               edges["b_lon"].to_numpy()])
    lab = np.arange(len(ids))
    while True:
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        while (lab[lab] != lab).any():
            lab = lab[lab]
        if (lab[ia] == lab[ib]).all():
            break
    moved = np.flatnonzero(lab != np.arange(len(ids)))
    canon = lab[moved]
    dy = (lat[moved] - lat[canon]) * _M_PER_DEG
    dx = ((lon[moved] - lon[canon]) * _M_PER_DEG
          * np.cos(np.radians((lat[moved] + lat[canon]) / 2.0)))
    d = np.sqrt(dy * dy + dx * dx)
    bound = _MAX_CANON_TOLS * tol_m
    if d.max() > bound:  # every edge moves its larger end, so d is non-empty
        k = int(d.argmax())
        raise ValueError(
            f"snap_mapping: a snap component did not converge within "
            f"{_MAX_CANON_TOLS:g}*tol_m = {bound:g} m of its canon: node "
            f"{ids[moved[k]]} lies {d[k]:.2f} m from canon {ids[canon[k]]} "
            "(a within-tolerance node chain this long is degenerate input)")
    return pd.DataFrame({"node_id": ids[moved], "canon_id": ids[canon],
                         "c_lat": lat[canon], "c_lon": lon[canon]})


def apply_snap(df: DataFrame, mapping: DataFrame, node_col: str = "node_id",
               broadcast_hint: bool = True) -> DataFrame:
    """Rewrite node ids through the snap mapping (left join + coalesce).
    The mapping (non-identity labels only) is usually tiny -> broadcast;
    pass broadcast_hint=False at scales where it isn't and let AQE pick."""
    # select first: the mapping carries the canon's c_lat/c_lon, which
    # must not leak into the rewritten frame
    m = (mapping.select("node_id", "canon_id")
         .withColumnRenamed("node_id", "__snap_src"))
    if broadcast_hint:
        m = F.broadcast(m)
    return (df.join(m, df[node_col] == m["__snap_src"], "left")
              .withColumn(node_col, F.coalesce("canon_id", node_col))
              .drop("__snap_src", "canon_id"))


def snap_nodes_table(nodes: DataFrame, mapping: DataFrame,
                     broadcast_hint: bool = True) -> DataFrame:
    """Fold snapped nodes into their canonical node: the canon keeps its
    coordinate (min-id wins, matching the reference's first-seen-wins
    dict insert) and absorbs the merged nodes' reference counts."""
    rewritten = apply_snap(nodes.withColumn("orig_id", F.col("node_id")),
                           mapping, broadcast_hint=broadcast_hint)
    # the canonical id is the component MIN id, so min_by(orig_id)
    # recovers the canonical node's own coordinate
    return (rewritten.groupBy("node_id")
            .agg(F.min_by(F.struct("lat", "lon"), "orig_id").alias("ll"),
                 F.sum("n_refs").cast("int").alias("n_refs"))
            .select("node_id", F.col("ll.lat").alias("lat"),
                    F.col("ll.lon").alias("lon"), "n_refs"))
