"""Diagnostic: parse-chain decomposition with/without the pre-parse
rebalance. Times the fused parse pass (ring assembly included), node
dedup and the snap map separately.

Usage: spark-submit --py-files engine.zip scripts/probe_parse.py \
           --input _data/scale_128000.parquet --master local[8] \
           [--parse-partitions 0]
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
    ap.add_argument("--input", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--parse-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from topo2osm_spark.plans.session import build_session
    from topo2osm_spark.plans import pipeline as P
    from topo2osm_spark.sources import sosi
    from topo2osm_spark.operators import nodes as nodeops

    spark = build_session("probe-parse", master=args.master,
                          shuffle_partitions=16)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    docs = spark.read.parquet(args.input)
    t: dict[str, float] = {}

    def clock(name, fn):
        t0 = time.monotonic()
        r = fn()
        t[name] = round(time.monotonic() - t0, 2)
        print(json.dumps({name: t[name]}), flush=True)
        return r

    spans = P.explode_spans(docs)
    ss = spans.where(F.col("kind") == "sosi")
    np_ = args.parse_partitions
    if np_ is None:
        np_ = max(16, 2 * spark.sparkContext.defaultParallelism)
    if np_:
        ss = ss.repartition(np_)
    print(json.dumps({"scan_partitions":
                      spans.rdd.getNumPartitions(),
                      "parse_partitions": np_}))
    clock("span_scan_only", lambda: ss.count())
    from pyspark import StorageLevel
    # the pipeline's one parse operator: tokenize + reproject + span-local
    # ring assembly in a single Arrow pass
    geo_all = sosi.tokenize_project_assemble_spans(ss).persist(
        StorageLevel.DISK_ONLY)
    clock("tokenize_project_assemble", lambda: geo_all.count())
    geo = geo_all.where(F.col("row_kind") == "obj")
    # node dedup on top of persisted geo (mirrors pipeline S5)
    way_nodes = nodeops.quantize(
        geo.select("doc_id",
                   F.posexplode(F.arrays_zip("lats", "lons")).alias("pos", "ll"))
        .select("doc_id", "pos", F.col("ll.lats").alias("lat"),
                F.col("ll.lons").alias("lon")))
    nodes_raw = nodeops.dedup_nodes(
        way_nodes.select("lat", "lon")).persist(StorageLevel.DISK_ONLY)
    clock("dedup_nodes", lambda: nodes_raw.count())
    clock("snap_map", lambda: nodeops.snap_mapping(nodes_raw).count())
    print(json.dumps({"master": spark.sparkContext.master, "stages": t}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
