"""Benchmark of the SOSI->OSM conversion (one command, see README.md).

    python3 perfbench/run.py --workload convert_spread --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. Set-up starts a pinned local Spark
session and writes the workload's seeded corpus to parquet. The
measured loop is closed: one conversion of that file-backed corpus at
a time, all eight outputs written, until `--seconds` have passed (at
least once). Every conversion is checked for correctness. The last
line of stdout is one JSON object: the end-to-end metrics with
`--trace 0`; with `--trace 1`, the per-layer metrics of a traced run
that also converts through a warehouse and resumes from it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
# AQE off and a fixed shuffle width, as the batch job runs locally
# (jobs/convert.py); the driver heap stays well below host RAM.
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """Pinned local[nproc] session from the program's own factory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    # Python workers are launched by the JVM and need the package too
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from topo2osm_spark.plans.session import build_session
    n = cores()
    spark = build_session("perfbench", master=f"local[{n}]",
                          shuffle_partitions=n)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.

    The JVM's Python daemon puts itself in its own process group, and
    workers it or the JVM forked outlive their parent for a moment when
    it exits; without this they would be re-parented outside this
    process tree, and `stop_descendants` could not see or wait for them."""
    import ctypes
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended: those still
    running after `grace_s` are killed, and every one is reaped. Raises
    if any is left, so that the run reports no result."""
    from perfbench.probes import process_tree
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        reap()
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)


def stop_session(spark) -> None:
    """Stop Spark and its JVM; the JVM's Python workers end with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def session_settings(spark) -> dict:
    conf = spark.conf
    return {"master": spark.sparkContext.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": spark.sparkContext.getConf().get(
                "spark.driver.memory")}


def lineage_by_stage(spark, wh_root: str) -> dict[str, int]:
    from topo2osm_spark.sources.warehouse import Warehouse
    rows = Warehouse(spark, wh_root).lineage().groupBy("stage").count()
    return {r["stage"]: r["count"] for r in rows.collect()}


def check_outputs(spark, w, seed: int, corpus: dict, out_dir: str,
                  out: dict, pins: dict, unpinned=()) -> tuple[dict, list[str]]:
    """Digests of the eight outputs under `out_dir` and the list of
    failed checks; the outputs in `unpinned` are not compared with the
    pinned digests."""
    from pyspark.sql import functions as F

    from perfbench import checks

    digests = checks.output_digests(out_dir)
    failures = []
    want = checks.pinned(pins, w.name, seed)
    if want is not None and any(want[k] != v for k, v in digests.items()
                                if k not in unpinned):
        failures.append("output digests differ from the pinned values")
    if not checks.echo_matches_input(corpus["path"],
                                     os.path.join(out_dir, "echo")):
        failures.append("echo differs from the input span order")
    kp_missing = out["integrity"].where(
        F.col("issue") == "kp_node_missing").count()
    if kp_missing:
        failures.append(f"{kp_missing} kp_node_missing integrity rows")
    if digests["nodes"]["rows"] == 0 or digests["membership"]["rows"] == 0:
        failures.append("empty nodes or membership output")
    for why in failures:
        print(f"check failed: {why}", file=sys.stderr)
    print("perfbench-digests: " + json.dumps(
        {"workload": w.name, "seed": seed, "digests": digests}),
        file=sys.stderr, flush=True)
    return digests, failures


def measure(spark, w, seed: int, corpus: dict, seconds: float,
            pins: dict) -> tuple[dict, dict, int, int]:
    """Closed loop of in-memory conversions for `seconds` (at least
    one), each checked. Returns (metrics, context, attempted, failed).

    The host's speed drifts by up to a third within minutes when
    neighbours load it, and each conversion's wall time drifts with it,
    so each one is also scaled to a reference speed by a calibration
    kernel sampled while it runs."""
    from perfbench.conversion import convert
    from perfbench.probes import (CALIBRATION_REF_S, RssSampler,
                                  SpeedSampler, median)

    walls, ref_walls, cals = [], [], []
    attempted = failed = 0
    t_end = time.monotonic() + seconds
    with RssSampler() as rss:
        while attempted == 0 or time.monotonic() < t_end:
            out_dir = os.path.join(WORK, f"out{attempted}")
            attempted += 1
            try:
                with SpeedSampler() as speed:
                    wall, out = convert(spark, corpus["path"], corpus["fp"],
                                        None, out_dir)
                cal = speed.kernel_s
                _, failures = check_outputs(spark, w, seed, corpus, out_dir,
                                            out, pins)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            finally:
                spark.catalog.clearCache()
                shutil.rmtree(out_dir, ignore_errors=True)
            failed += bool(failures)
            walls.append(wall)
            cals.append(cal)
            ref_walls.append(wall * CALIBRATION_REF_S / cal)
    if not walls:
        raise RuntimeError("no conversion completed")
    metrics = {
        "docs_per_ref_s": (corpus["docs"] / median(ref_walls), "docs/ref-s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    context = {"docs_per_s": corpus["docs"] / median(walls),
               "calibration_s": median(cals)}
    return metrics, context, attempted, failed


def traced(spark, w, seed: int, corpus: dict, pins: dict
           ) -> tuple[dict, int, int]:
    """A traced cold conversion through a fresh warehouse, then a
    resumed run of it, then every layer in isolation. Returns per-layer
    metrics, conversions attempted and conversions that failed a check.

    The cold conversion is the first in the JVM, as in an untraced run,
    and writes every stage checkpoint besides the eight outputs; a
    separate in-memory conversion would take the run past its time
    limit on a loaded host."""
    from perfbench import checks
    from perfbench.conversion import convert, dir_bytes
    from perfbench.layers import trace_layers
    from perfbench.probes import StageCounters, Tracer

    tracer = Tracer(f"{w.name}-{seed}", StageCounters(spark))
    inp, fp = corpus["path"], corpus["fp"]
    cold_dir, resume_dir = (os.path.join(WORK, d) for d in ("cold", "resume"))
    wh_root = os.path.join(WORK, "warehouse")
    # spans are indexed in start order: 0 is the cold conversion and its
    # direct children are its plan, core and write spans
    with tracer.span("warehouse.cold"):
        _, out = convert(spark, inp, fp, wh_root, cold_dir, tracer=tracer)
    # `islands` is pinned from the in-memory path, and its FLATE
    # tie-break follows the physical row order, which differs here
    digests, failures = check_outputs(spark, w, seed, corpus, cold_dir, out,
                                      pins, unpinned=("islands",))
    failed = int(bool(failures))
    spark.catalog.clearCache()
    lineage_cold = lineage_by_stage(spark, wh_root)

    # the resumed run writes only the checkpoint-backed outputs; the
    # others would repeat the cold run's compute
    with tracer.span("warehouse.resume"):
        _, out = convert(spark, inp, fp, wh_root, resume_dir,
                         checks.RESUME_OUTPUTS, tracer)
    lineage_resume = lineage_by_stage(spark, wh_root)
    got = checks.output_digests(resume_dir, checks.RESUME_OUTPUTS)
    if any(got[k] != digests[k] for k in got):
        print("check failed: the resumed run's outputs differ from the "
              "cold run's", file=sys.stderr)
        failed += 1
    if lineage_resume != lineage_cold:
        print("check failed: the resumed run appended lineage rows",
              file=sys.stderr)
        failed += 1

    def dur(name: str, parent: int | None = 0) -> float:
        s = next(s for s in tracer.spans
                 if s["name"] == name and s["parent"] == parent)
        return s["end"] - s["start"]

    m = {"pipeline.core_s": dur("pipeline.plan") + dur("pipeline.core")}
    for name in checks.OUTPUTS:
        m[f"pipeline.write_s.{name}"] = dur(f"pipeline.write.{name}")
    conv = [s for s in tracer.spans if s["parent"] == 0]
    wall = sum(s["end"] - s["start"] for s in conv)
    total = {k: sum(s["counters"][k] for s in conv)
             for k in ("shuffle_mb", "spill_mb", "cpu_s", "run_s")}
    ckpt_bytes = dir_bytes(wh_root)
    m.update({
        "spark.shuffle_mb": total["shuffle_mb"],
        "spark.spill_mb": total["spill_mb"],
        "spark.executor_cpu_s": total["cpu_s"],
        "spark.busy_frac": total["run_s"] / (wall * cores()),
        "warehouse.cold_s": dur("warehouse.cold", None),
        "warehouse.resume_s": dur("warehouse.resume", None),
        "warehouse.bytes_written": ckpt_bytes,
        "warehouse.bytes_per_input_byte": ckpt_bytes / corpus["bytes"],
        "warehouse.stages_resumed": sum(
            lineage_resume.get(st) == n for st, n in lineage_cold.items())
        / max(1, len(lineage_cold)),
        "warehouse.lineage_rows": sum(lineage_cold.values()),
        "tiles.assignments": digests["tile_assignments"]["rows"],
        # time the traced conversions spent reading the status store
        "trace.overhead_s": tracer.overhead_s,
    })
    n_parse = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                  2 * spark.sparkContext.defaultParallelism)
    m.update(trace_layers(spark, tracer, out, wh_root, inp, n_parse))
    # driver-side plan building: run_pipeline over a complete warehouse,
    # where every stage resolves from its manifest
    rs = next(i for i, s in enumerate(tracer.spans)
              if s["name"] == "warehouse.resume")
    m["pipeline.plan_s"] = dur("pipeline.plan", rs)
    os.makedirs(TRACE_DIR, exist_ok=True)
    tracer.dump(os.path.join(TRACE_DIR, f"{w.name}-seed{seed}.json"))
    for name, secs in sorted(tracer.self_times().items()):
        print(f"self_s {name} {secs:.3f}", file=sys.stderr)
    return m, 2, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import topo2osm_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    from perfbench import checks, workloads
    from perfbench.conversion import input_fingerprint
    from perfbench.probes import CALIBRATION_REF_S, SpeedSampler, tree_cpu_s
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    pins = checks.load_pins()

    # a terminating signal unwinds through the clean-up below
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    adopt_orphans()
    shutil.rmtree(WORK, ignore_errors=True)
    t0 = time.monotonic()
    spark = None
    try:
        # set-up time is counted in CPU seconds of the process tree, at
        # the reference host speed: its wall time grows by a fifth or
        # more when neighbours take cores from this host, its CPU time
        # by a few percent
        with SpeedSampler() as speed:
            cpu0 = tree_cpu_s(os.getpid(), skip=speed.pid)
            spark = start_session()
            path = os.path.join(WORK, "corpus")
            corpus = workloads.write_corpus(spark, w, args.seed, path)
            corpus.update(path=path, fp=input_fingerprint(path))
            setup_cpu_s = tree_cpu_s(os.getpid(), skip=speed.pid) - cpu0
        setup_wall_s = time.monotonic() - t0
        setup_s = setup_cpu_s * CALIBRATION_REF_S / speed.kernel_s
        if args.trace:
            values, attempted, failed = traced(spark, w, args.seed, corpus,
                                               pins)
            metrics = {k: {"value": float(v), "unit": UNITS[k]}
                       for k, v in values.items()}
            context = {}
        else:
            values, context, attempted, failed = measure(
                spark, w, args.seed, corpus, args.seconds, pins)
            values["setup_s"] = (setup_s, "s")
            context["setup_wall_s"] = setup_wall_s
            metrics = {k: {"value": float(v), "unit": u}
                       for k, (v, u) in values.items()}
        settings = session_settings(spark)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            stop_descendants()
            shutil.rmtree(WORK, ignore_errors=True)

    print(f"workload {w.name} seed {args.seed}: {corpus['docs']} docs, "
          f"{corpus['spans']} spans, {corpus['bytes']} input bytes; "
          f"session {json.dumps(settings)}")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in context.items():
        print(f"{k} = {v:.6g} (not bounded)")
    print(f"failed_frac = {failed / attempted:.6g} ({failed} of "
          f"{attempted} conversions failed a check)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


UNITS = {
    "pipeline.plan_s": "s", "pipeline.core_s": "s",
    **{f"pipeline.write_s.{o}": "s" for o in (
        "nodes", "ways", "relations", "tile_assignments", "echo", "points",
        "membership", "islands")},
    "sosi.parse_s": "s", "sosi.spans_in": "count", "sosi.text_mb_in": "MB",
    "sosi.objects_out": "count", "sosi.rings_out": "count",
    "sosi.task_skew": "ratio",
    "assembly.xspan_s": "s", "assembly.orphan_flates": "count",
    "nodes.dedup_s": "s", "nodes.points_in": "count",
    "nodes.nodes_out": "count", "nodes.snap_s": "s",
    "nodes.snap_merges": "count", "nodes.shuffle_mb": "MB",
    "nodes.spill_mb": "MB",
    "pip.cover_s": "s", "pip.cover_cells": "count", "pip.join_s": "s",
    "pip.points": "count", "pip.candidates": "count", "pip.hits": "count",
    "pip.hit_ratio": "ratio", "pip.shuffle_mb": "MB",
    "pip.task_skew": "ratio",
    "tiles.join_s": "s", "tiles.media_spans": "count",
    "tiles.assignments": "count",
    "split.s": "s", "split.ways_split": "count", "tags.join_s": "s",
    "warehouse.write_s": "s", "warehouse.bytes_written": "bytes",
    "warehouse.cold_s": "s", "warehouse.resume_s": "s",
    "warehouse.bytes_per_input_byte": "ratio",
    "warehouse.load_s": "s", "warehouse.stages_resumed": "ratio",
    "warehouse.lineage_rows": "count",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB",
    "spark.executor_cpu_s": "s", "spark.busy_frac": "ratio",
    "trace.overhead_s": "s",
}

if __name__ == "__main__":
    sys.exit(main())
