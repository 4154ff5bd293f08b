"""Deterministic synthetic `documents` corpus (FIXTURES.md §A).

Generates the interleaved text+media documents table matching the
driver's input_hint exactly (BASELINE.json:15):

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset:int32>>)

Design points (FIXTURES.md generator spec):
- Seeded per-doc RNG (`default_rng([seed, doc_index])`) — generation
  is order-independent and therefore embarrassingly parallel: the
  distributed path is `spark.range(n) -> mapInArrow(gen)`, which is
  how a 10^12-doc corpus would actually be synthesized on a cluster.
- Coastal municipalities get a Zipf-skewed share of documents to
  exercise salted repartitioning / adaptive cell splitting
  (SURVEY.md §2 ops 41-42).
- SOSI spans contain complete header+object fragments: multi-curve
  lakes with island holes, wood polygons SHARING a boundary curve
  with the lake (shared-node dedup cases), coastline chains with
  ...KP junction markers, NØH contours, PUNKT objects, and ~1%
  deliberate error cases (orphan refs, unclosed rings).
- Interior points are VERIFIED inside their ring at generation time
  (ray-cast), so PIP membership has a ground truth.
- The spans array is stored in SHUFFLED order; only `offset` defines
  span order — consumers must sort (span-sequence invariant,
  BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from topo2osm_spark.functions import cells, geom, proj

ENHET = 0.01
KOORDSYS = 23  # UTM33 / EUREF89 — Norway-wide N50 zone
ZONE = proj.SOSI_KOORDSYS_TO_ZONE[KOORDSYS]

_WORDS = ("fjell vann skog myr elv bre dal nes holme sund vik fjord "
          "kyst berg mark eng sti bru tun gard li hei mo aas").split()

ARROW_SPAN = pa.struct([
    pa.field("kind", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), False),
])
ARROW_DOCUMENTS = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(ARROW_SPAN), False),
])

_HEADER = (".HODE\n..TEGNSETT UTF-8\n..TRANSPAR\n...KOORDSYS {k}\n"
           "...ORIGO-NØ 0 0\n...ENHET {e}\n")

FLATE_TYPES = np.array(["Innsjø", "Skog", "Myr", "DyrketMark", "SnøIsbre",
                        "InnsjøRegulert", "ElvBekk"])
FLATE_W = np.array([0.30, 0.25, 0.15, 0.10, 0.05, 0.05, 0.10])
CURVE_EDGE = {"Innsjø": "Innsjøkant", "InnsjøRegulert": "Innsjøkant",
              "ElvBekk": "ElvBekk"}


class Municipalities:
    """Deterministic municipality layout: UTM33 boxes + Zipf doc weights."""

    def __init__(self, n: int = 24, seed: int = 42, coastal_frac: float = 0.3,
                 skew: float = 1.4):
        rng = np.random.default_rng([seed, 777])
        self.n = n
        self.center_e = rng.uniform(200_000, 800_000, n)
        self.center_n = rng.uniform(6_550_000, 7_750_000, n)
        self.half = 15_000.0
        n_coastal = max(1, int(round(n * coastal_frac)))
        self.coastal = np.arange(n) < n_coastal
        w = np.where(self.coastal,
                     1.0 / (np.arange(n, dtype=np.float64) + 1.0) ** skew,
                     0.05 / n)
        self.weights = w / w.sum()


def _fmt_int(v: float) -> str:
    return str(int(round(v / ENHET)))


def _ring_points(rng, ce, cn, radius, n_pts):
    """Star-shaped CCW ring around (ce, cn), snapped to the ENHET grid
    BEFORE splitting into curves so shared endpoints match exactly."""
    t = np.sort(rng.uniform(0, 2 * np.pi, n_pts))
    rr = radius * rng.uniform(0.75, 1.25, n_pts)
    e = ce + rr * np.cos(t)
    n = cn + rr * np.sin(t)
    e = np.round(e / ENHET) * ENHET
    n = np.round(n / ENHET) * ENHET
    return n, e  # CCW in (e, n) plane


def _emit_curve(buf: list[str], cid: int, objtype: str, n: np.ndarray,
                e: np.ndarray, kp_idx=(), heights=None) -> None:
    buf.append(f".KURVE {cid}:")
    buf.append(f"..OBJTYPE {objtype}")
    buf.append("..NØH" if heights is not None else "..NØ")
    # vectorized row formatting: np.rint is round-half-even exactly like
    # round() on a float, so the emitted integers match the former
    # per-point f"{_fmt_int(..)}" loop byte-for-byte (pinned by
    # test_generator_bytes_pinned); the generator spends ~20% of its
    # time here at 50k docs.
    ni = np.rint(np.asarray(n, dtype=np.float64) / ENHET).astype(np.int64).tolist()
    ei = np.rint(np.asarray(e, dtype=np.float64) / ENHET).astype(np.int64).tolist()
    if heights is not None:
        hi = np.rint(np.asarray(heights, dtype=np.float64) / ENHET) \
               .astype(np.int64).tolist()
        rows = [f"{a} {b} {h}" for a, b, h in zip(ni, ei, hi)]
    else:
        rows = [f"{a} {b}" for a, b in zip(ni, ei)]
    if not kp_idx:
        buf.extend(rows)
        return
    for i, row in enumerate(rows):
        buf.append(row)
        if i in kp_idx:
            buf.append("...KP 1")


def _emit_flate(buf: list[str], fid: int, objtype: str, ref_str: str,
                int_n: float, int_e: float) -> None:
    buf.append(f".FLATE {fid}:")
    buf.append(f"..OBJTYPE {objtype}")
    buf.append(f"..REF {ref_str}")
    buf.append("..NØ")
    buf.append(f"{_fmt_int(int_n)} {_fmt_int(int_e)}")


def _split_ring_into_curves(rng, n, e, next_id, buf, edge_objtype,
                            drop_last_ref=False):
    """Split a closed ring into 1-4 shared-endpoint curves; emit them;
    return (ref tokens, next_id). Randomly reverses stored curve coords
    (ref gets a minus) — exercises signed-ref traversal."""
    n_pts = len(n)
    k = int(rng.integers(1, min(4, max(2, n_pts // 4)) + 1))
    cuts = np.sort(rng.choice(np.arange(1, n_pts), size=k - 1, replace=False)) if k > 1 else np.array([], dtype=int)
    bounds = [0, *cuts.tolist(), n_pts]
    refs = []
    for j in range(k):
        lo, hi = bounds[j], bounds[j + 1]
        seg_n = np.concatenate([n[lo:hi], [n[(hi) % n_pts]]])
        seg_e = np.concatenate([e[lo:hi], [e[(hi) % n_pts]]])
        cid = next_id
        next_id += 1
        if rng.random() < 0.4:
            _emit_curve(buf, cid, edge_objtype, seg_n[::-1], seg_e[::-1])
            refs.append(f":-{cid}")
        else:
            _emit_curve(buf, cid, edge_objtype, seg_n, seg_e)
            refs.append(f":{cid}")
    if drop_last_ref and len(refs) > 1:
        refs = refs[:-1]  # deliberate unclosed-ring error case
    return refs, next_id, bounds


def _interior_point(n, e, rng):
    """A point verified inside the ring (ray-cast); None if not found.

    Consumes NO rng draws. All candidates are ray-cast in ONE batched
    points_in_ring call (the kernel is vectorized over points) and the
    first hit in the original probe order is returned — the former
    per-candidate scalar calls spent ~30% of generator time on call
    overhead. Candidate arithmetic is elementwise-identical (np.round
    is the same round-half-even as round() on a float scalar)."""
    cn, ce = float(np.mean(n)), float(np.mean(e))
    idx = np.arange(0, len(n), max(1, len(n) // 4))
    ni, ei = n[idx], e[idx]
    # one batched ray-cast per frac, in probe order (frac major, ring
    # index minor — same candidate sequence as ever): frac 0.0 (the
    # centroid, every candidate identical) hits for most rings, so
    # later fracs are rarely even computed.
    for frac in (0.0, 0.2, 0.4, -0.2, 0.6, -0.4):
        pn = np.round((cn + frac * (ni - cn)) / ENHET) * ENHET
        pe = np.round((ce + frac * (ei - ce)) / ENHET) * ENHET
        hits = np.nonzero(geom.points_in_ring(pn, pe, n, e))[0]
        if hits.size:
            j = int(hits[0])
            return pn[j], pe[j]
    return None


def _gen_sosi_fragment(rng, ce, cn, err_rate=0.01) -> tuple[str, tuple]:
    """One complete SOSI fragment. Returns (text, bbox_en) where
    bbox_en = (e_min, e_max, n_min, n_max) of emitted geometry."""
    buf: list[str] = [_HEADER.format(k=KOORDSYS, e=ENHET).rstrip()]
    next_id = 1
    flate_jobs = []  # deferred FLATE emissions (after curves)
    all_n, all_e = [], []

    # --- main lake/area polygon, possibly with island holes ---
    objtype = str(rng.choice(FLATE_TYPES, p=FLATE_W))
    radius = float(np.exp(rng.uniform(np.log(200), np.log(2000))))
    lake_ce = ce + rng.uniform(-5000, 5000)
    lake_cn = cn + rng.uniform(-5000, 5000)
    n, e = _ring_points(rng, lake_ce, lake_cn, radius, int(rng.integers(8, 25)))
    all_n.append(n); all_e.append(e)
    edge = CURVE_EDGE.get(objtype, "ArealbrukGrense")
    unclosed = rng.random() < err_rate
    refs, next_id, bounds = _split_ring_into_curves(rng, n, e, next_id, buf,
                                                    edge, drop_last_ref=unclosed)
    n_holes = int(rng.integers(0, 3)) if len(n) >= 12 else 0
    hole_refs = []
    for _ in range(n_holes):
        ang = rng.uniform(0, 2 * np.pi)
        hce = lake_ce + 0.45 * radius * np.cos(ang)
        hcn = lake_cn + 0.45 * radius * np.sin(ang)
        hn, he = _ring_points(rng, hce, hcn, radius * 0.15,
                              int(rng.integers(6, 10)))
        r2, next_id, _ = _split_ring_into_curves(rng, hn, he, next_id, buf, edge)
        hole_refs.append("( " + " ".join(r2) + " )")
        # sometimes the island is itself a land FLATE referencing the
        # SAME hole curves (island-in-lake containment, SURVEY.md §2.12)
        if rng.random() < 0.5:
            hip = _interior_point(hn, he, rng)
            if hip is not None:
                flate_jobs.append((next_id, "Skog", " ".join(r2),
                                   hip[0], hip[1]))
                next_id += 1
    ip = _interior_point(n, e, rng)
    if ip is not None:
        ref_str = " ".join(refs + hole_refs)
        if rng.random() < err_rate:  # orphan-ref error case
            ref_str += f" :{next_id + 500}"
        flate_jobs.append((next_id, objtype, ref_str, ip[0], ip[1]))
        next_id += 1

    # --- adjacent wood polygon REFERENCING the lake's first curve id ---
    # (FIXTURES.md: "adjacent FLATEs reference the same curve id" —
    # both polygons must end up sharing ALL of that curve's node ids)
    if rng.random() < 0.5 and not unclosed and len(bounds) > 2:
        # lake curve 1 covers ring indices bounds[0]..bounds[1] (wrapped
        # +1 endpoint); the lake traverses it seg[0]->seg[-1].
        lo, hi = bounds[0], bounds[1]
        seg_n = np.concatenate([n[lo:hi], [n[hi % len(n)]]])
        seg_e = np.concatenate([e[lo:hi], [e[hi % len(e)]]])
        shared_ref = refs[0]
        # wood traverses the shared curve OPPOSITE to the lake
        wood_ref1 = shared_ref.replace(":-", ":") if shared_ref.startswith(":-") \
            else ":-" + shared_ref[1:]
        # arc curve runs seg[0] -> outward copies -> seg[-1]
        out_n = np.round((lake_cn + (seg_n[1:-1] - lake_cn) * 1.6) / ENHET) * ENHET
        out_e = np.round((lake_ce + (seg_e[1:-1] - lake_ce) * 1.6) / ENHET) * ENHET
        arc_n = np.concatenate([[seg_n[0]], out_n, [seg_n[-1]]])
        arc_e = np.concatenate([[seg_e[0]], out_e, [seg_e[-1]]])
        arc_cid = next_id
        _emit_curve(buf, arc_cid, "Skoggrense", arc_n, arc_e)
        next_id += 1
        # ring for verification: reversed seg then arc
        ring_n = np.concatenate([seg_n[::-1], arc_n[1:]])
        ring_e = np.concatenate([seg_e[::-1], arc_e[1:]])
        wip = _interior_point(ring_n[:-1], ring_e[:-1], rng)
        if wip is not None:
            flate_jobs.append((next_id, "Skog", f"{wood_ref1} :{arc_cid}",
                               wip[0], wip[1]))
            next_id += 1
            all_n.append(ring_n); all_e.append(ring_e)

    # --- coastline chain with KP junction markers ---
    if rng.random() < 0.4:
        k = int(rng.integers(2, 5))
        t0 = rng.uniform(0, 2 * np.pi)
        pts_per = int(rng.integers(4, 8))
        cr = radius * 3.0
        start_n = cn + rng.uniform(-8000, 8000)
        start_e = ce + rng.uniform(-8000, 8000)
        t = np.linspace(t0, t0 + np.pi, k * pts_per)
        chain_n = np.round((start_n + cr * np.sin(t) + np.cumsum(rng.uniform(20, 80, t.size))) / ENHET) * ENHET
        chain_e = np.round((start_e + cr * np.cos(t)) / ENHET) * ENHET
        for j in range(k):
            lo = j * pts_per
            hi = min((j + 1) * pts_per + 1, t.size)
            kp = (0,) if j > 0 else ()
            _emit_curve(buf, next_id, "Kystkontur", chain_n[lo:hi],
                        chain_e[lo:hi], kp_idx=kp)
            next_id += 1
        all_n.append(chain_n); all_e.append(chain_e)

    # --- near-duplicate boundary nodes (snap-tolerance cases) ---
    # a path (Sti) curve whose first vertex is a lake-ring vertex
    # jittered WITHIN the 0.5 m snap tolerance (must merge), and whose
    # second is jittered OUTSIDE it (must stay distinct).
    if rng.random() < 0.5:
        vi = int(rng.integers(0, len(n)))
        jin = 0.15  # m, < tol
        jout = 5.0  # m, > tol
        p1n = round((n[vi] + rng.uniform(-jin, jin)) / ENHET) * ENHET
        p1e = round((e[vi] + rng.uniform(-jin, jin)) / ENHET) * ENHET
        vj = int((vi + len(n) // 2) % len(n))
        p2n = round((n[vj] + jout) / ENHET) * ENHET
        p2e = round((e[vj] + jout) / ENHET) * ENHET
        p3n = round((p2n + rng.uniform(50, 300)) / ENHET) * ENHET
        p3e = round((p2e + rng.uniform(50, 300)) / ENHET) * ENHET
        _emit_curve(buf, next_id, "Sti", np.array([p1n, p2n, p3n]),
                    np.array([p1e, p2e, p3e]))
        next_id += 1

    # --- contour line with heights (NØH) ---
    if rng.random() < 0.25:
        m = int(rng.integers(5, 12))
        hn = cn + np.cumsum(rng.uniform(-300, 300, m))
        he = ce + np.cumsum(rng.uniform(-300, 300, m))
        hgt = np.full(m, float(rng.integers(100, 1500)))
        _emit_curve(buf, next_id, "Høydekurve",
                    np.round(hn / ENHET) * ENHET,
                    np.round(he / ENHET) * ENHET, heights=hgt)
        next_id += 1

    # --- point object ---
    if rng.random() < 0.3:
        buf.append(f".PUNKT {next_id}:")
        buf.append("..OBJTYPE Høydepunkt")
        buf.append("..NØ")
        buf.append(f"{_fmt_int(cn + rng.uniform(-500, 500))} "
                   f"{_fmt_int(ce + rng.uniform(-500, 500))}")
        next_id += 1

    # --- closed island coastline ring (direction-contract case) ---
    # N50 Kystkontur runs with water on the RIGHT: a closed island ring
    # must be CCW. Half are emitted CW — the pipeline must repair them.
    # (Appended LAST in the rng draw order so earlier corpora are a
    # strict prefix of the same stream.)
    if rng.random() < 0.3:
        icn = cn + rng.uniform(-6000, 6000)
        ice = ce + rng.uniform(-6000, 6000)
        isl_n, isl_e = _ring_points(rng, ice, icn,
                                    float(rng.uniform(300, 800)),
                                    int(rng.integers(8, 14)))
        isl_n = np.concatenate([isl_n, isl_n[:1]])
        isl_e = np.concatenate([isl_e, isl_e[:1]])
        if rng.random() < 0.5:  # wrong direction on purpose
            isl_n, isl_e = isl_n[::-1], isl_e[::-1]
        _emit_curve(buf, next_id, "Kystkontur", isl_n, isl_e)
        next_id += 1
        all_n.append(isl_n); all_e.append(isl_e)

    # --- lake elevation label (TEKST, SURVEY.md §2 op 9) ---
    # N50 sheets label lake surfaces with an elevation string; the
    # engine must emit a tagged point node carrying ele=<label>
    # (tags.py Høydetall row). Placed at the lake's interior point.
    # (Appended LAST in the rng draw order so earlier corpora are a
    # strict prefix of the same stream.)
    if rng.random() < 0.25 and ip is not None:
        ele = int(rng.integers(1, 1500))
        buf.append(f".TEKST {next_id}:")
        buf.append("..OBJTYPE Høydetall")
        buf.append(f"..STRENG {ele}")
        buf.append("..NØ")
        buf.append(f"{_fmt_int(ip[0])} {_fmt_int(ip[1])}")
        next_id += 1

    for fid, ft, ref_str, ipn, ipe in flate_jobs:
        _emit_flate(buf, fid, ft, ref_str, ipn, ipe)
    buf.append(".SLUTT")
    nn = np.concatenate(all_n); ee = np.concatenate(all_e)
    return "\n".join(buf), (float(ee.min()), float(ee.max()),
                            float(nn.min()), float(nn.max()))


def _media_ref_for(rng, lat, lon, stray_rate=0.05) -> str:
    """lat/lon: 1-element arrays, the doc midpoint already projected —
    hoisted to gen_doc so the (rng-free) Krueger inverse runs once per
    document instead of once per media span."""
    z = int(rng.integers(10, 15))
    if rng.random() < stray_rate:  # deliberately non-overlapping tile
        lat = lat + rng.uniform(3, 6)
        lon = lon - rng.uniform(3, 6)
    # tile x/y are exactly encode()'s ix/iy intermediates —
    # cell_to_tile(encode(..)) round-tripped them through the Morton
    # spread/compact (exact inverses) for nothing; compute them direct.
    x, y = cells.lonlat_to_norm(lon, lat)
    n = np.uint64(1) << np.uint64(z)
    nf = float(2 ** z)
    xx = np.minimum((x * nf).astype(np.uint64), n - np.uint64(1))
    yy = np.minimum((y * nf).astype(np.uint64), n - np.uint64(1))
    return f"tile/{z}/{xx[0]}/{yy[0]}"


def gen_doc(doc_index: int, muni: Municipalities, seed: int = 42,
            driver_text: str | None = None, max_sosi: int = 4) -> dict:
    """Generate one document deterministically from (seed, doc_index)."""
    rng = np.random.default_rng([seed, doc_index])
    m = int(rng.choice(muni.n, p=muni.weights))
    ce = float(muni.center_e[m] + rng.uniform(-muni.half, muni.half))
    cn = float(muni.center_n[m] + rng.uniform(-muni.half, muni.half))
    spans = []
    n_text = int(rng.integers(1, 4))
    for _ in range(n_text):
        words = rng.choice(_WORDS, size=int(rng.integers(4, 12)))
        txt = " ".join(words.tolist())
        if driver_text:
            txt = driver_text[:120] + " " + txt
        spans.append(("text", txt, ""))
    bboxes = []
    for _ in range(int(rng.integers(1, max_sosi + 1))):
        frag, bbox = _gen_sosi_fragment(rng, ce, cn)
        spans.append(("sosi", frag, ""))
        bboxes.append(bbox)
    e_mid = float(np.mean([(b[0] + b[1]) / 2 for b in bboxes]))
    n_mid = float(np.mean([(b[2] + b[3]) / 2 for b in bboxes]))
    mid_lat, mid_lon = proj.utm_inverse(np.array([e_mid]), np.array([n_mid]),
                                        ZONE)
    for _ in range(int(rng.integers(0, 5))):
        spans.append(("media", "", _media_ref_for(rng, mid_lat, mid_lon)))
    # strictly increasing offsets over the interleaving order…
    order = rng.permutation(len(spans))
    offsets = np.cumsum(rng.integers(1, 5, len(spans)))
    seq = [
        {"kind": spans[j][0], "text": spans[j][1],
         "media_ref": spans[j][2], "offset": int(offsets[pos])}
        for pos, j in enumerate(order)
    ]
    # …but the ARRAY is stored shuffled: only `offset` carries order.
    store = [seq[int(i)] for i in rng.permutation(len(seq))]
    return {"doc_id": f"m{m:04d}-d{doc_index:06d}", "spans": store}


def generate_documents(n_docs: int, n_municipalities: int = 24,
                       seed: int = 42, driver_texts: list[str] | None = None,
                       max_sosi: int = 4) -> pa.Table:
    """Driver-side generation -> Arrow table (small corpora / tests)."""
    muni = Municipalities(n_municipalities, seed)
    rows = [gen_doc(i, muni, seed,
                    driver_texts[i] if driver_texts else None, max_sosi)
            for i in range(n_docs)]
    return pa.Table.from_pylist(rows, schema=ARROW_DOCUMENTS)


def documents_df(spark, n_docs: int, n_municipalities: int = 24,
                 seed: int = 42, max_sosi: int = 4, partitions: int | None = None):
    """Distributed generation: spark.range -> mapInArrow. This is the
    scale path — each executor synthesizes its share of documents from
    (seed, doc_index) alone; no driver-side materialization."""
    from topo2osm_spark.schema import DOCUMENTS

    def gen_batches(batches):
        muni = Municipalities(n_municipalities, seed)
        for batch in batches:
            idxs = batch.column("id").to_pylist()
            rows = [gen_doc(int(i), muni, seed, None, max_sosi) for i in idxs]
            yield pa.RecordBatch.from_pylist(rows, schema=ARROW_DOCUMENTS)

    parts = int(partitions or spark.sparkContext.defaultParallelism)
    rng_df = spark.range(0, n_docs, 1, parts)
    # stamp the generation layout width into column metadata: the
    # pipeline's parse-rebalance decision needs the partition count,
    # and the engine contract forbids the RDD API (test_no_row_udf
    # test_no_rdd_usage), so the partition count cannot be probed.
    # Range partitions are balanced by doc COUNT, so `gen_partitions`
    # also asserts "already balanced for per-doc work".
    return (rng_df.mapInArrow(gen_batches, DOCUMENTS)
            .withMetadata("doc_id", {"gen_partitions": parts}))
