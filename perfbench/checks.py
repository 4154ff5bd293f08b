"""Correctness checks on a conversion's written outputs.

Digests are computed by the benchmark process with pyarrow from the
parquet files the conversion wrote, independently of Spark: each row is
canonicalised (floats rounded to 1e-7, map entries sorted), hashed, and
the hashes summed modulo 2**64, so the digest ignores row order and
partitioning.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

OUTPUTS = ("nodes", "ways", "relations", "tile_assignments", "echo",
           "points", "membership", "islands")
# the outputs read straight from stage checkpoints
RESUME_OUTPUTS = ("nodes", "ways")

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "pins.json")


def _canon(v, t: pa.DataType):
    if v is None:
        return None
    if pa.types.is_floating(t):
        return round(v, 7)
    if pa.types.is_struct(t):
        return {t.field(i).name: _canon(v[t.field(i).name], t.field(i).type)
                for i in range(t.num_fields)}
    if pa.types.is_map(t):
        return sorted([k, _canon(x, t.item_type)] for k, x in v)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_canon(x, t.value_type) for x in v]
    return v


def table_digest(path: str) -> dict:
    """{"rows": n, "digest": hex} of the parquet directory at `path`."""
    tbl = pq.read_table(path)
    fields = list(tbl.schema)
    total = 0
    for row in tbl.to_pylist():
        canon = {f.name: _canon(row[f.name], f.type) for f in fields}
        h = hashlib.blake2b(json.dumps(canon, sort_keys=True,
                                       ensure_ascii=False).encode(),
                            digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return {"rows": tbl.num_rows, "digest": f"{total:016x}"}


def output_digests(out_dir: str, outputs=OUTPUTS) -> dict:
    return {name: table_digest(os.path.join(out_dir, name))
            for name in outputs}


def echo_matches_input(input_path: str, echo_path: str) -> bool:
    """`echo` equals each input document's span sequence ordered by
    `offset` (the span-sequence invariant)."""
    want = {}
    for row in pq.read_table(input_path).to_pylist():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        want[row["doc_id"]] = [(s["offset"], s["kind"], s["text"],
                                s["media_ref"]) for s in spans]
    got = {}
    for row in pq.read_table(echo_path).to_pylist():
        if row["doc_id"] in got:
            return False
        got[row["doc_id"]] = [(s["offset"], s["kind"], s["text"],
                               s["media_ref"]) for s in row["spans_sorted"]]
    return got == want


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def pinned(pins: dict, workload: str, seed: int) -> dict | None:
    return pins.get(workload, {}).get(str(seed))
