"""One conversion of a file-backed corpus, as the batch job runs it:
`run_pipeline`, the `nodes` core materialized, then the outputs written
one after another.

Through a `Warehouse` with an empty root this is a cold run:
`run_pipeline` writes every stage checkpoint as it plans. Run again on
the same warehouse and input it is a resumed run: every checkpoint is
loaded.
"""

from __future__ import annotations

import contextlib
import os
import time

from perfbench.checks import OUTPUTS


def input_fingerprint(input_path: str) -> str:
    """Identity of a parquet input from its file listing and sizes."""
    from topo2osm_spark.sources.warehouse import fingerprint
    parts = [f"{f}:{os.path.getsize(os.path.join(input_path, f))}"
             for f in sorted(os.listdir(input_path))
             if f.endswith(".parquet")]
    return fingerprint("perfbench-input", *parts)


def convert(spark, input_path: str, input_fp: str,
            warehouse_root: str | None, out_dir: str, outputs=OUTPUTS,
            tracer=None) -> tuple[float, dict]:
    """Convert `input_path`, writing `outputs` under `out_dir`; return
    (wall seconds from reading the input to the last output written,
    the pipeline's output dict). Without a warehouse root the stages
    are checkpointed in memory (the pipeline's default)."""
    from topo2osm_spark.plans.pipeline import run_pipeline
    from topo2osm_spark.sources.warehouse import Warehouse

    def span(name: str):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    t0 = time.monotonic()
    with span("pipeline.plan"):
        docs = spark.read.parquet(input_path)
        wh = Warehouse(spark, warehouse_root) if warehouse_root else None
        out = run_pipeline(spark, docs, warehouse=wh, input_fp=input_fp,
                           cache_docs=False)
    with span("pipeline.core"):
        out["nodes"].count()
    for name in outputs:
        with span(f"pipeline.write.{name}"):
            out[name].write.mode("overwrite").parquet(
                os.path.join(out_dir, name))
    return time.monotonic() - t0, out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
