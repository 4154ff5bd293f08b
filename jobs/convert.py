"""spark-submit batch entry (SURVEY.md §3.4): full SOSI->OSM conversion.

    spark-submit --py-files engine.zip jobs/convert.py \
        --n-docs 4000 --out /tmp/warehouse [--resume] [--input DIR]

Input: either a parquet documents table (--input, input_hint shape)
or the deterministic synthesized corpus (--n-docs, distributed
generation — each executor synthesizes its share). Every stage
checkpoints through the warehouse with per-partition lineage; --resume
skips completed stages (op 43). Prints one JSON line with timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet documents table")
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--max-sosi", type=int, default=3)
    ap.add_argument("--out", required=True, help="warehouse/output dir")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-checkpoint", action="store_true",
                    help="skip the warehouse layer (pure in-memory run)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=None,
                    help="input partitions for synthesized corpus")
    ap.add_argument("--aqe", action="store_true",
                    help="enable AQE (recommended on real clusters; its "
                         "per-stage re-optimization costs 1.5-2x at sandbox "
                         "scale, so local benches leave it off)")
    ap.add_argument("--skip-counts", action="store_true",
                    help="skip post-write counts + metrics table "
                         "(scaling benches: removes fixed driver latency)")
    ap.add_argument("--xml", action="store_true",
                    help="also write OSM XML shards (<out>/xml_*) — the "
                         "reference converter's native output format; one "
                         ".osm document per partition shard")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from topo2osm_spark.plans.pipeline import run_pipeline
    from topo2osm_spark.plans.session import build_session
    from topo2osm_spark.sources.fixtures import documents_df
    from topo2osm_spark.sources.warehouse import Warehouse, fingerprint

    spark = build_session("topo2osm-convert", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    if not args.aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    t0 = time.monotonic()
    if args.input:
        docs = spark.read.parquet(args.input)
        # input identity = path + file listing with sizes+mtimes (cheap
        # content signature): --resume against the same --out but a
        # DIFFERENT input must recompute, not reuse stale checkpoints.
        sig_parts = []
        if os.path.isdir(args.input):
            for fn in sorted(os.listdir(args.input)):
                if fn.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(args.input, fn))
                sig_parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
        else:
            st = os.stat(args.input)
            sig_parts.append(f"{os.path.basename(args.input)}:{st.st_size}:{int(st.st_mtime)}")
        input_fp = fingerprint("path", args.input, *sig_parts)
    else:
        parts = args.partitions or max(
            8, min(spark.sparkContext.defaultParallelism, args.n_docs // 500))
        docs = documents_df(spark, args.n_docs, seed=42,
                            max_sosi=args.max_sosi, partitions=parts)
        input_fp = fingerprint("synth", args.n_docs, 42, args.max_sosi)
    wh = None if args.no_checkpoint else Warehouse(spark, args.out)
    out = run_pipeline(spark, docs, warehouse=wh, resume=args.resume,
                       input_fp=input_fp,
                       # file-backed input: keep the pruned parquet
                       # scans (echo/media) instead of caching the
                       # whole corpus; synthesized input: cache once,
                       # generate once (pipeline.py cache_docs note)
                       cache_docs=(args.input is None))

    stage_secs: dict[str, float] = {}
    stage_secs["plan_build"] = round(time.monotonic() - t0, 2)
    n_docs = args.n_docs
    if args.input:
        # exact row count from parquet footers (driver-side, no scan):
        # a Spark count() here costs a full-corpus scan job (~19 s at
        # 256k docs on one core) of pure fixed overhead.
        tc = time.monotonic()
        try:
            import pyarrow.dataset as ds
            n_docs = ds.dataset(args.input, format="parquet").count_rows()
        except Exception:
            n_docs = docs.count()
        stage_secs["input_count"] = round(time.monotonic() - tc, 2)
    # materialize the shared core once (the persisted chain up to the
    # node table), then run the eight output writes as CONCURRENT Spark
    # jobs — they only touch cached intermediates, and overlapping them
    # hides the scheduler/Python-runner latency of each tail.
    t1 = time.monotonic()
    out["nodes"].count()
    stage_secs["core_chain"] = round(time.monotonic() - t1, 2)

    from concurrent.futures import ThreadPoolExecutor

    def write_one(name: str) -> tuple[str, float]:
        # local properties are per thread: name this write's jobs (its
        # broadcast jobs inherit the description)
        spark.sparkContext.setJobDescription(f"topo2osm:write:{name}")
        t = time.monotonic()
        out[name].write.mode("overwrite").parquet(
            os.path.join(args.out, "out_" + name))
        return name, round(time.monotonic() - t, 2)

    # write-job concurrency: enough overlap to hide per-job scheduler
    # latency, low enough to stay under the host's IPC-concurrency
    # collapse threshold (~8-12 active Arrow runner contexts).
    names = ("nodes", "ways", "relations", "tile_assignments", "echo",
             "points", "membership", "islands")
    with ThreadPoolExecutor(max_workers=2) as ex:
        for name, secs in ex.map(write_one, names):
            stage_secs[name] = secs
    if args.xml:
        from topo2osm_spark.sources import osm_xml
        tx = time.monotonic()
        # single-definition node space: tagged point ids are emitted
        # ONCE (tags merged, canonical coords) and anti-joined out of
        # the plain node sink — never two <node> elements per id.
        plain_nodes, tagged_nodes = osm_xml.split_tagged_nodes(
            out["nodes"], out["points"])
        for xname, xdf in (
                ("nodes", osm_xml.nodes_to_xml(plain_nodes)),
                ("points", osm_xml.points_to_xml(tagged_nodes)),
                ("ways", osm_xml.ways_to_xml(out["ways"])),
                ("relations", osm_xml.relations_to_xml(out["relations"]))):
            osm_xml.write_xml_shards(xdf, os.path.join(args.out, "xml_" + xname))
        stage_secs["xml"] = round(time.monotonic() - tx, 2)
    counts = {}
    if not args.skip_counts:
        import pyarrow.dataset as ds
        # row counts from the written parquet footers: no Spark job
        counts = {name: ds.dataset(os.path.join(args.out, "out_" + name),
                                   format="parquet").count_rows()
                  for name in names}
        # metrics table (op 4): per-objtype counts + integrity issues
        metrics = (out["objects"].groupBy("obj_kind", "objtype")
                   .agg(F.count(F.lit(1)).alias("n")))
        metrics.write.mode("overwrite").parquet(os.path.join(args.out, "_metrics"))
    wall = time.monotonic() - t0
    # jobs this run started, and the stages that ran tasks (a stage
    # whose shuffle output was reused is listed by its job but skipped)
    tracker = spark.sparkContext.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup()]
    stages = [tracker.getStageInfo(s)
              for s in {s for j in jobs if j for s in j.stageIds}]
    print(json.dumps({
        "n_docs": n_docs, "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 2),
        "stage_write_secs": stage_secs, "counts": counts,
        "master": spark.sparkContext.master,
        "resumed": bool(args.resume),
        "spark_jobs": len(jobs),
        "spark_stages": sum(1 for st in stages
                            if st and st.numCompletedTasks > 0),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
