"""Workload definitions and the seeded corpus generator.

Every workload uses the program's own per-document generator
(`sources.fixtures.gen_doc`); only the municipality layout differs.
The corpus is synthesized with `spark.range -> mapInArrow(gen_doc)` and
written to parquet during set-up, so the timed conversion reads a
file-backed input exactly as a batch job does.
"""

from __future__ import annotations

import dataclasses
import os

import pyarrow.parquet as pq


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int
    n_municipalities: int
    coastal_frac: float
    skew: float
    # half-width (m) of each municipality's UTM box; the generator's
    # default is 15 km
    half_m: float
    max_sosi: int = 3


WORKLOADS = {
    w.name: w for w in (
        # coastal_frac=1 with skew=0 gives every municipality the same
        # weight: documents barely overlap, so PIP finds little beyond
        # each FLATE's own ring and parse/nodes/writes dominate.
        Workload("convert_spread",
                 "uniform weights over 400 municipalities: documents "
                 "barely overlap, so parse, node dedup/snap and writes "
                 "dominate and PIP does little",
                 n_docs=128, n_municipalities=400, coastal_frac=1.0,
                 skew=0.0, half_m=15_000.0),
        # a steep Zipf coastal skew puts about 80% of the documents in
        # municipality 0, and its box is shrunk from 15 km to 0.5 km.
        # PIP candidates grow with the square of the documents sharing
        # an area; the generator's defaults (skew 1.4, 15 km) need about
        # 10k documents before PIP dominates, far too slow to convert
        # per run, while this layout gives several times the spread
        # workload's PIP hits at the same size.
        Workload("convert_coastal",
                 "same generator and size; 24 municipalities, Zipf skew 3 "
                 "(80% of documents in one 0.5 km box): dense overlap makes "
                 "the PIP join and refine dominate",
                 n_docs=128, n_municipalities=24, coastal_frac=0.3,
                 skew=3.0, half_m=500.0),
    )
}


def municipalities(w: Workload, seed: int):
    from topo2osm_spark.sources.fixtures import Municipalities
    muni = Municipalities(w.n_municipalities, seed, w.coastal_frac, w.skew)
    muni.half = w.half_m
    return muni


def write_corpus(spark, w: Workload, seed: int, path: str) -> dict:
    """Generate the workload's corpus for `seed` into parquet at `path`;
    return its size (documents, spans, parquet bytes)."""
    import pyarrow as pa

    from topo2osm_spark.schema import DOCUMENTS
    from topo2osm_spark.sources.fixtures import ARROW_DOCUMENTS, gen_doc

    def gen(batches):
        muni = municipalities(w, seed)
        for b in batches:
            rows = [gen_doc(int(i), muni, seed, None, w.max_sosi)
                    for i in b.column("id").to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=ARROW_DOCUMENTS)

    parts = spark.sparkContext.defaultParallelism
    (spark.range(0, w.n_docs, 1, parts).mapInArrow(gen, DOCUMENTS)
     .write.mode("overwrite").parquet(path))
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")]
    spans = sum(len(s) for f in files
                for s in pq.read_table(f, columns=["spans"])
                .column("spans").to_pylist())
    return {"docs": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "spans": spans,
            "bytes": sum(os.path.getsize(f) for f in files)}
