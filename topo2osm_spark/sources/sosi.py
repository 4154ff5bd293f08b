"""SOSI fragment tokenizer (SURVEY.md §2 ops 5, 7, 8, 9) — Arrow batch.

Parses the SOSI subset defined in FIXTURES.md (the executable spec;
the reference mount was empty, see SURVEY.md §0 — grammar derives
from the public Kartverket SOSI standard and the reference's known
behavior [U: topo2osm.py::file reader / object parser]):

    .HODE ..TRANSPAR ...KOORDSYS n ...ORIGO-NØ n e ...ENHET u
    .KURVE id: ..OBJTYPE t ..NØ|..NØH <int rows> [...KP n]
    .FLATE id: ..OBJTYPE t ..REF :i :-j ( :k ) ..NØ <one row>
    .PUNKT id: ..OBJTYPE t ..NØ <one row>
    .TEKST id: ..OBJTYPE t ..STRENG s ..NØ <one row>
    .SLUTT

Exposed two ways:
  * parse_fragment(text)   — pure-Python single fragment (the reference
    for tests and small inputs)
  * tokenize_project_assemble_spans(df) — the one Spark operator: a
    mapInArrow pass that parses, reprojects to WGS84 and assembles
    FLATE rings for batches of exploded sosi spans (GEO_WITH_RINGS
    rows out). The Python loop is per-span within an Arrow batch
    (batch-granular, not a per-row Spark UDF); the coordinate hot path
    is one numpy parse over the joined coordinate block, which is
    where ~90% of the bytes are.

Coordinates are emitted in meters ([north, east] or [north, east,
height]) after applying ENHET scale and ORIGO offset, matching the
reference's int×ENHET semantics.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

_OBJ_RE = re.compile(r"^\.(KURVE|FLATE|PUNKT|TEKST)\s+(\d+)\s*:", re.M)
_REF_TOKEN_RE = re.compile(r":(-?\d+)|(\()|(\))")
_NUM_LINE_RE = re.compile(r"^-?\d")


def _parse_header(text: str) -> dict:
    hdr = {"koordsys": 23, "enhet": 1.0, "origo_n": 0.0, "origo_e": 0.0}
    m = re.search(r"\.\.\.KOORDSYS\s+(\d+)", text)
    if m:
        hdr["koordsys"] = int(m.group(1))
    m = re.search(r"\.\.\.ENHET\s+([0-9.eE+-]+)", text)
    if m:
        hdr["enhet"] = float(m.group(1))
    m = re.search(r"\.\.\.ORIGO-NØ\s+(-?\d+)\s+(-?\d+)", text)
    if m:
        hdr["origo_n"] = float(m.group(1))
        hdr["origo_e"] = float(m.group(2))
    return hdr


def _parse_coord_block(num_rows: list[str], enhet: float, origo_n: float,
                       origo_e: float) -> np.ndarray:
    """Coordinate rows -> an (n, 2|3) float64 ndarray in meters — the
    numpy form feeds the fused parse+project kernel without a list
    round-trip."""
    if not num_rows:
        return np.empty((0, 2))
    # hot path: one parse over the joined block when width is uniform
    width = len(num_rows[0].split())
    blob = " ".join(num_rows)
    vals = np.array(blob.split(), dtype=np.float64)
    if vals.size == width * len(num_rows):
        arr = vals.reshape(-1, width)
    else:  # ragged (mixed NØ/NØH) — slow path, pad to widest
        rows = [r.split() for r in num_rows]
        width = max(len(p) for p in rows)
        arr = np.zeros((len(rows), width))
        for i, p in enumerate(rows):
            arr[i, :len(p)] = [float(x) for x in p]
    out = np.empty_like(arr)
    out[:, 0] = origo_n + arr[:, 0] * enhet
    out[:, 1] = origo_e + arr[:, 1] * enhet
    if width > 2:
        out[:, 2] = arr[:, 2] * enhet
    return out


def _parse_refs(ref_text: str) -> tuple[list[int], list[int]]:
    """..REF token stream -> (signed refs, hole_group ids).

    Outer ring = group 0; each parenthesised group = hole group 1, 2, …
    Minus sign = curve traversed reversed [U: topo2osm.py::REF parser].
    """
    refs: list[int] = []
    groups: list[int] = []
    g = 0
    depth = 0
    for m in _REF_TOKEN_RE.finditer(ref_text):
        if m.group(2):  # '('
            depth += 1
            g += 1
        elif m.group(3):  # ')'
            depth -= 1
        else:
            refs.append(int(m.group(1)))
            groups.append(g if depth > 0 else 0)
    return refs, groups


def parse_fragment(text: str, doc_id: str = "", span_idx: int = 0,
                   as_numpy: bool = False) -> list[dict]:
    """Parse one SOSI fragment into PARSED_OBJECTS-shaped dicts.
    as_numpy=True keeps coords as the (n, 2|3) ndarray (fused kernel
    path — skips the list round-trip)."""
    hdr = _parse_header(text)
    out: list[dict] = []
    matches = list(_OBJ_RE.finditer(text))
    for i, m in enumerate(matches):
        kind = m.group(1)
        obj_id = int(m.group(2))
        end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        body = text[m.end():end]
        lines = [ln.strip() for ln in body.split("\n") if ln.strip()]
        objtype = None
        streng = None
        num_rows: list[str] = []
        kp_marks: list[int] = []
        ref_parts: list[str] = []
        mode = None
        for ln in lines:
            # fast path first: the overwhelming majority of lines are
            # coordinate rows (no leading dot) — the directive
            # startswith chain below only runs for dot-lines, same
            # dispatch result as the former single chain.
            if ln[0] != ".":
                if mode == "coords":
                    if _NUM_LINE_RE.match(ln):
                        num_rows.append(ln)
                elif mode == "refs":
                    ref_parts.append(ln)
                continue
            if ln.startswith("..OBJTYPE"):
                objtype = ln.split(None, 1)[1].strip()
                mode = None
            elif ln.startswith("..STRENG"):
                # TEKST label payload (lake-elevation labels etc.);
                # optional surrounding quotes are stripped
                streng = ln.split(None, 1)[1].strip().strip('"') \
                    if len(ln.split(None, 1)) > 1 else ""
                mode = None
            elif ln.startswith("..REF"):
                ref_parts.append(ln[5:])
                mode = "refs"
            elif ln.startswith("..NØ"):  # ..NØ and ..NØH
                mode = "coords"
            elif ln.startswith("...KP"):
                # KP marks the immediately preceding coordinate row
                if mode == "coords" and num_rows:
                    kp_marks.append(len(num_rows) - 1)
            else:
                mode = None  # .SLUTT or unknown group
        coords = _parse_coord_block(num_rows, hdr["enhet"],
                                    hdr["origo_n"], hdr["origo_e"])
        refs, hole_group = _parse_refs(" ".join(ref_parts)) if ref_parts else ([], [])
        out.append({
            "doc_id": doc_id,
            "span_idx": span_idx,
            "obj_kind": kind,
            "obj_id": obj_id,
            "objtype": objtype,
            "streng": streng,
            "coords": coords if as_numpy else coords.tolist(),
            "kp": kp_marks,
            "refs": refs,
            "hole_group": hole_group,
            "koordsys": hdr["koordsys"],
            "enhet": hdr["enhet"],
        })
    return out


# Arrow mirror of schema.GEO_WITH_RINGS: object rows (row_kind 'obj',
# ring columns null) and ring rows (row_kind 'ring').
_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("span_idx", pa.int32(), False),
    pa.field("obj_kind", pa.string(), False),
    pa.field("obj_id", pa.int64(), False),
    pa.field("objtype", pa.string()),
    pa.field("streng", pa.string()),
    pa.field("kp", pa.list_(pa.int32())),
    pa.field("refs", pa.list_(pa.int64())),
    pa.field("hole_group", pa.list_(pa.int32())),
    pa.field("koordsys", pa.int32(), False),
    pa.field("enhet", pa.float64(), False),
    pa.field("lats", pa.list_(pa.float64())),
    pa.field("lons", pa.list_(pa.float64())),
    pa.field("height", pa.float64()),
    pa.field("row_kind", pa.string(), False),   # 'obj' | 'ring'
    pa.field("flate_id", pa.int64()),
    pa.field("ring_idx", pa.int32()),
    pa.field("is_hole", pa.bool_()),
    pa.field("closed", pa.bool_()),
    pa.field("area", pa.float64()),
    pa.field("n_curves", pa.int32()),
    pa.field("n_orphan_refs", pa.int32()),
])


def _project_batch_rows(batch: pa.RecordBatch) -> tuple[list[dict], list[tuple]]:
    """Parse + reproject one Arrow batch. Returns (rows, spans) where
    rows are GEO-shaped dicts (lats/lons as python lists) and spans is
    [(doc_id, span_idx, lo, hi)] row-slice bookkeeping per input span —
    the hook that lets the fused kernel regroup a span's objects
    without a shuffle.

    Per batch: parse every fragment (coords stay numpy), flatten all
    coordinates into ONE array, one Krueger-series ufunc pass, re-split
    by offsets. Also extracts the scalar NØH height (contours carry a
    constant height per curve)."""
    from topo2osm_spark.functions import proj
    zmap = proj.SOSI_KOORDSYS_TO_ZONE
    doc_ids = batch.column("doc_id").to_pylist()
    span_idxs = batch.column("span_idx").to_pylist()
    texts = batch.column("text").to_pylist()
    rows: list[dict] = []
    spans: list[tuple] = []
    for d, s, t in zip(doc_ids, span_idxs, texts):
        if t:
            lo = len(rows)
            rows.extend(parse_fragment(t, d, s, as_numpy=True))
            spans.append((d, s, lo, len(rows)))
    if not rows:
        return rows, spans
    lens = np.array([r["coords"].shape[0] for r in rows], dtype=np.int64)
    total = int(lens.sum())
    flat_n = np.empty(total)
    flat_e = np.empty(total)
    zones = np.empty(total)
    pos = 0
    for r, m in zip(rows, lens):
        if m:
            arr = r["coords"]
            flat_n[pos:pos + m] = arr[:, 0]
            flat_e[pos:pos + m] = arr[:, 1]
            zones[pos:pos + m] = zmap.get(int(r["koordsys"]), 33)
            pos += m
    lat, lon = proj.utm_inverse(flat_e, flat_n, zones)
    pos = 0
    for r, m in zip(rows, lens):
        arr = r.pop("coords")
        r["lats"] = lat[pos:pos + m].tolist()
        r["lons"] = lon[pos:pos + m].tolist()
        r["height"] = float(arr[0, 2]) if (m and arr.shape[1] > 2) else None
        pos += m
    return rows, spans


def tokenize_project_assemble_batches(
        batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """FUSED S2+S3+S4 kernel: parse, reproject AND assemble rings in
    one Python pass.

    The coordinate block (~90% of the bytes) is the heaviest column in
    the pipeline; parsing, projecting and assembling in one pass means
    it crosses the JVM/Python boundary once each way, with one runner
    handshake per batch.

    A SELF-CONTAINED SOSI fragment's FLATE only references curves of
    its own span, so chaining the rings while the span's objects are
    still resident in the parse worker replaces a refs->curves
    equi-join + per-FLATE regroup (a shuffle of the entire curve
    coordinate column back to where it already was) with span-local
    numpy, using the same _assemble_one kernel as the document-wide
    fallback.

    Cross-span refs are NOT silently dropped (VERDICT r4 #2): every
    FLATE's orphan refs (no curve with that id in the SAME span) are
    COUNTED into `n_orphan_refs` on its obj row, and a flate with any
    orphan ref is excluded from span-local assembly entirely — the
    pipeline routes those flates through the document-wide shuffle
    fallback (assembly.assemble_rings_docwide), which resolves refs
    across all spans of the document the way the upstream converter
    resolves them file-wide.

    Output is the GEO_WITH_RINGS union table: object rows
    (row_kind='obj', ring columns null) interleaved with ring rows
    (row_kind='ring', ASSEMBLED_RINGS payload; obj_kind='RING',
    obj_id=flate_id)."""
    from topo2osm_spark.operators.assembly import _assemble_one
    for batch in batches:
        rows, spans = _project_batch_rows(batch)
        if not rows:
            continue
        for r in rows:
            r["row_kind"] = "obj"
            r["n_orphan_refs"] = 0
        ring_rows: list[dict] = []
        for d, s, lo, hi in spans:
            curves: dict[int, dict] = {}
            flates: list[dict] = []
            for r in rows[lo:hi]:
                if r["obj_kind"] == "KURVE":
                    curves[r["obj_id"]] = r
                elif r["obj_kind"] == "FLATE":
                    flates.append(r)
            for fl in flates:
                parts = []
                orphans = 0
                for pos, (ref, hg) in enumerate(
                        zip(fl["refs"] or [], fl["hole_group"] or [])):
                    cv = curves.get(abs(ref))
                    if cv is None:   # not in THIS span
                        orphans += 1
                        continue
                    parts.append({"ref_pos": pos, "ref": ref,
                                  "hole_group": hg,
                                  "c_lats": cv["lats"], "c_lons": cv["lons"]})
                if orphans:
                    # the ref may live in another span of the same doc;
                    # defer the WHOLE flate to the doc-wide fallback so
                    # its rings are assembled from the complete part set
                    fl["n_orphan_refs"] = orphans
                    continue
                if not parts:
                    continue
                n0 = len(ring_rows)
                _assemble_one(d, s, fl["obj_id"], fl["objtype"], parts,
                              ring_rows)
                for rr in ring_rows[n0:]:
                    rr.update({"row_kind": "ring", "obj_kind": "RING",
                               "obj_id": rr["flate_id"],
                               "koordsys": fl["koordsys"],
                               "enhet": fl["enhet"]})
        yield pa.RecordBatch.from_pylist(rows + ring_rows,
                                         schema=_ARROW_SCHEMA)


def tokenize_project_assemble_spans(spans_df):
    """Fused Spark operator: spans -> GEO_WITH_RINGS in one mapInArrow
    (Python boundaries #1-#3 of SURVEY.md §3.2 collapsed; zero-shuffle
    ring assembly)."""
    from topo2osm_spark.schema import GEO_WITH_RINGS
    return spans_df.select("doc_id", "span_idx", "text").mapInArrow(
        tokenize_project_assemble_batches, GEO_WITH_RINGS)
