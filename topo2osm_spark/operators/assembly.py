"""Curve-to-way topology assembly + ring closure (SURVEY.md §2 ops 21, 22).

The headline operator of the engine (north star, BASELINE.json:6):
per FLATE, gather referenced curves in ref order, reverse where the
ref is negative, concatenate dropping duplicated junction
coordinates, chain leftovers by endpoint matching, close rings, and
normalize orientation (outer CCW / holes CW per the OSM multipolygon
convention) [U: topo2osm.py::polygon/ring assembly + area check;
mount empty, SURVEY.md §0].

Where it runs: _assemble_one chains one FLATE's rings in numpy. The
fused parse kernel (sources/sosi.tokenize_project_assemble_spans)
calls it span-locally for every self-contained FLATE;
assemble_rings_docwide is the shuffle fallback for FLATEs whose refs
cross spans: explode(refs) -> join curves on (doc_id, curve_id) ->
groupBy(doc_id, span_idx, flate_id) -> mapInPandas. The kernel sorts
its parts by ref position (never relies on shuffle order —
determinism contract, SURVEY.md §4.2.5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from topo2osm_spark.functions import geom
from topo2osm_spark.schema import ASSEMBLED_RINGS

# endpoint match tolerance in quantized degrees: reprojection is
# value-deterministic so shared endpoints match bit-exact; the 1e-9
# rounding only guards against float formatting noise.
_Q = 1e9


def _key(lat: float, lon: float) -> tuple[int, int]:
    return (int(round(lat * _Q)), int(round(lon * _Q)))


def _chain_curves(pieces: list[np.ndarray]) -> list[tuple[np.ndarray, bool]]:
    """Chain ordered (lat, lon) piece arrays into rings.

    Follows ref order first (the reference's primary path — the scan
    below prefers the EARLIEST pending piece, so in-order refs chain
    exactly as listed), falling back to endpoint matching with flips
    against ALL remaining pieces (the repair path for out-of-order
    refs; r5 — the previous single-lookahead greedy closed a chain out
    on the first non-adjacent piece even when a later piece connected,
    splitting rings that endpoint matching can recover). Genuinely
    disconnected pieces still emit separate (possibly open) chains.
    Returns [(ring_points, closed)].
    """
    rings: list[tuple[np.ndarray, bool]] = []
    cur: np.ndarray | None = None
    pending = list(pieces)
    while pending or cur is not None:
        if cur is None:
            cur = pending.pop(0)
        else:
            tail = _key(cur[-1, 0], cur[-1, 1])
            head = _key(cur[0, 0], cur[0, 1])
            for i, nxt in enumerate(pending):
                s = _key(nxt[0, 0], nxt[0, 1])
                e = _key(nxt[-1, 0], nxt[-1, 1])
                if s == tail:
                    cur = np.vstack([cur, nxt[1:]])
                elif e == tail:
                    cur = np.vstack([cur, nxt[::-1][1:]])
                elif e == head:
                    cur = np.vstack([nxt, cur[1:]])
                elif s == head:
                    cur = np.vstack([nxt[::-1], cur[1:]])
                else:
                    continue
                pending.pop(i)
                break
            else:
                # nothing connects: close out current, start fresh
                rings.append((cur, _is_closed(cur)))
                cur = None
                continue
        if len(cur) >= 4 and _is_closed(cur):
            rings.append((cur, True))
            cur = None
    return rings


def _is_closed(pts: np.ndarray) -> bool:
    return len(pts) >= 4 and _key(pts[0, 0], pts[0, 1]) == _key(pts[-1, 0], pts[-1, 1])


def _assemble_one(doc_id: str, span_idx: int, flate_id: int, objtype,
                  parts: list, out_rows: list) -> None:
    """Assemble one FLATE's rings from its collected curve parts.
    parts: [{ref_pos, ref, hole_group, c_lats, c_lons}, ...]."""
    ring_idx = 0
    # sort by ref order — determinism never depends on shuffle order
    parts = sorted(parts, key=lambda p: p["ref_pos"])
    by_group: dict[int, list] = {}
    for p in parts:
        by_group.setdefault(int(p["hole_group"]), []).append(p)
    for hg in sorted(by_group):
        grp = by_group[hg]
        is_hole = hg > 0
        pieces = []
        for p in grp:
            pts = np.column_stack([np.asarray(p["c_lats"], dtype=np.float64),
                                   np.asarray(p["c_lons"], dtype=np.float64)])
            if p["ref"] < 0:  # minus = traverse reversed
                pts = pts[::-1]
            pieces.append(pts)
        for pts, closed in _chain_curves(pieces):
            area = geom.shoelace_area(pts[:, 0], pts[:, 1])
            # orientation: outer CCW (area>0), holes CW (area<0)
            if closed and ((not is_hole and area < 0) or (is_hole and area > 0)):
                pts = pts[::-1]
                area = -area
            out_rows.append({
                "doc_id": doc_id, "span_idx": span_idx, "flate_id": flate_id,
                "objtype": objtype, "ring_idx": ring_idx, "is_hole": is_hole,
                "lats": pts[:, 0].tolist(), "lons": pts[:, 1].tolist(),
                "closed": bool(closed), "area": float(area),
                "n_curves": int(len(grp)),
            })
            ring_idx += 1


def _assemble_batches(it):
    cols = [f.name for f in ASSEMBLED_RINGS.fields]
    for pdf in it:
        out_rows: list = []
        for doc_id, span_idx, flate_id, objtype, parts in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["flate_id"],
                pdf["flate_objtype"], pdf["parts"]):
            _assemble_one(doc_id, int(span_idx), int(flate_id), objtype,
                          list(parts), out_rows)
        yield (pd.DataFrame(out_rows) if out_rows
               else pd.DataFrame(columns=cols))


def assemble_rings_docwide(flates: DataFrame, curves: DataFrame) -> DataFrame:
    """Document-wide ring assembly for FLATEs whose ..REF list crosses
    span boundaries (the fused span-local kernel defers these via
    n_orphan_refs > 0 — sources/sosi.py).

    The upstream converter resolves refs FILE-wide; a document is one
    file, so refs here join on (doc_id, curve_id) across all spans.
    Fixture-style corpora restart curve ids per span, which makes the
    doc-wide join ambiguous when ids collide — resolution prefers (1) a
    curve in the flate's OWN span, then (2) the lowest span_idx, so a
    self-contained flate that merely carries a truly-missing ref
    assembles exactly as the span-local kernel would have.

    The deferred-ref set gets a broadcast hint only when AQE is off.
    Unlike the snap map, its size has no fixed bound: it is tiny on
    self-contained corpora, but on a corpus where cross-span documents
    are the norm (exactly when this fallback fires) it is an exploded
    corpus-scaled table, and an unconditional F.broadcast() would OOM
    the driver. Without AQE the plans are stats-free local ones where
    the set is known-tiny; with AQE on, no hint — the runtime promotes
    to broadcast from real stage stats when the set really is small,
    and keeps a shuffle join when it is not. This fork goes with the
    whole fallback once the parse kernel assembles every FLATE
    (ROADMAP item 2). Truly-missing refs drop out of the inner join and
    surface in integrity_report as before."""
    from pyspark.sql import Window
    hint = str(flates.sparkSession.conf.get(
        "spark.sql.adaptive.enabled", "true")).lower() != "true"
    refs = (flates
            .select("doc_id", "span_idx",
                    F.col("obj_id").alias("flate_id"),
                    F.col("objtype").alias("flate_objtype"),
                    F.posexplode(F.arrays_zip("refs", "hole_group"))
                     .alias("ref_pos", "rh"))
            .select("doc_id", "span_idx", "flate_id", "flate_objtype",
                    "ref_pos",
                    F.col("rh.refs").alias("ref"),
                    F.col("rh.hole_group").alias("hole_group"),
                    F.abs(F.col("rh.refs")).alias("curve_id")))
    c = curves.select("doc_id",
                      F.col("span_idx").alias("c_span_idx"),
                      F.col("obj_id").alias("curve_id"),
                      F.col("lats").alias("c_lats"),
                      F.col("lons").alias("c_lons"))
    joined = c.join(F.broadcast(refs) if hint else refs,
                    ["doc_id", "curve_id"], "inner")
    w = (Window.partitionBy("doc_id", "span_idx", "flate_id", "ref_pos")
         .orderBy((F.col("c_span_idx") == F.col("span_idx")).desc(),
                  F.col("c_span_idx")))
    resolved = (joined.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1).drop("__rn", "c_span_idx",
                                                "curve_id"))
    grouped = (resolved.groupBy("doc_id", "span_idx", "flate_id")
               .agg(F.first("flate_objtype").alias("flate_objtype"),
                    F.collect_list(F.struct(
                        "ref_pos", "ref", "hole_group",
                        "c_lats", "c_lons")).alias("parts")))
    return grouped.mapInPandas(_assemble_batches, ASSEMBLED_RINGS)


# objtypes whose closed standalone ways carry a direction contract:
# N50 Kystkontur runs with WATER ON THE RIGHT, i.e. a closed island
# ring (land inside) travels counter-clockwise (SURVEY.md §2.12).
DIRECTED_CURVE_TYPES = ("Kystkontur",)


def orient_closed_curve_ways(
        curve_geoms: DataFrame,
        objtypes: tuple[str, ...] = DIRECTED_CURVE_TYPES) -> DataFrame:
    """Repair the coastline direction contract on CLOSED standalone
    curve ways: if a closed ring of a directed objtype runs clockwise
    (negative shoelace area), reverse its vertex order. Open chains
    pass through untouched (their direction is the digitizing order —
    the reference trusts it, and without network context there is
    nothing to repair against).

    Everything is JVM higher-order-function math (zip_with/aggregate
    shoelace on the lat/lon arrays) — no Python round-trip. Also sets
    the real `closed` flag for curve ways (first == last vertex)."""
    n = F.size("lats")
    closed = ((n >= 4)
              & (F.get("lats", 0) == F.get("lats", n - 1))
              & (F.get("lons", 0) == F.get("lons", n - 1)))

    def _dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    # 2*area = sum(x_i*y_{i+1}) - sum(x_{i+1}*y_i), i = 1..n-1 (1-based)
    area2 = (_dot(F.slice("lons", 1, n - 1), F.slice("lats", 2, n - 1))
             - _dot(F.slice("lons", 2, n - 1), F.slice("lats", 1, n - 1)))
    must_flip = (closed & F.col("objtype").isin(*objtypes) & (area2 < 0))
    # materialize the flag BEFORE rewriting lats — otherwise the lons
    # rewrite would re-evaluate the predicate over already-flipped lats
    return (curve_geoms
            .withColumn("closed", closed)
            .withColumn("_flip", must_flip)
            .withColumn("lats", F.when(F.col("_flip"), F.reverse("lats"))
                                 .otherwise(F.col("lats")))
            .withColumn("lons", F.when(F.col("_flip"), F.reverse("lons"))
                                 .otherwise(F.col("lons")))
            .drop("_flip"))


def integrity_report(flates: DataFrame, curves: DataFrame) -> DataFrame:
    """op 18: orphan FLATE refs (left_anti) and unused curves
    (left_anti the other way) — the reference's warning printouts,
    re-expressed as a metrics DataFrame.

    Refs missing in their own span but present elsewhere in the SAME
    document are reported as 'cross_span_ref' (informational — the
    doc-wide assembly fallback resolves them), distinct from
    'orphan_ref' (missing document-wide, ring genuinely incomplete)."""
    refs = (flates.select("doc_id", "span_idx",
                          F.explode("refs").alias("sref"))
                  .withColumn("curve_id", F.abs("sref")))
    c = curves.select("doc_id", "span_idx", F.col("obj_id").alias("curve_id"))
    span_missing = refs.join(c, ["doc_id", "span_idx", "curve_id"],
                             "left_anti")
    c_doc = curves.select("doc_id", F.col("obj_id").alias("curve_id"))
    orphans = (span_missing.join(c_doc, ["doc_id", "curve_id"], "left_anti")
               .select(F.lit("orphan_ref").alias("issue"),
                       "doc_id", "span_idx", F.col("curve_id").alias("obj_id")))
    xspan = (span_missing.join(c_doc, ["doc_id", "curve_id"], "left_semi")
             .select(F.lit("cross_span_ref").alias("issue"),
                     "doc_id", "span_idx", F.col("curve_id").alias("obj_id")))
    unused = (c.join(refs, ["doc_id", "span_idx", "curve_id"], "left_anti")
               .select(F.lit("unused_curve").alias("issue"),
                       "doc_id", "span_idx", F.col("curve_id").alias("obj_id")))
    return orphans.unionByName(xspan).unionByName(unused)
