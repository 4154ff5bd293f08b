"""Streaming prefix + OSM XML sink tests."""

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F


def test_streaming_prefix_matches_batch(spark, docs_df, tmp_path):
    """The stateless pipeline prefix produces identical parsed objects
    under Structured Streaming and batch execution."""
    from topo2osm_spark.streaming.stream import run_stream_to_memory
    inp = str(tmp_path / "docs_stream")
    docs_df.write.mode("overwrite").parquet(inp)

    streamed = run_stream_to_memory(spark, inp, name="t_stream_objs")
    got = {(r["doc_id"], r["span_idx"], r["obj_kind"], r["obj_id"])
           for r in streamed.collect()}

    from topo2osm_spark.plans.pipeline import explode_spans
    from topo2osm_spark.sources import sosi
    spans = explode_spans(spark.read.parquet(inp))
    batch = (sosi.tokenize_project_assemble_spans(
                 spans.where(F.col("kind") == "sosi"))
             .where(F.col("row_kind") == "obj"))
    want = {(r["doc_id"], r["span_idx"], r["obj_kind"], r["obj_id"])
            for r in batch.collect()}
    assert got == want and len(got) > 0


def test_windowed_event_counts(spark):
    from topo2osm_spark.streaming.stream import windowed_event_counts
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(ev, window="1 hour").collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == ev.count()  # batch mode: no late-data drops


def test_stream_dedup_exact_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates across micro-batches
    are dropped by keyed state (first-seen-wins), novel docs pass."""
    from topo2osm_spark.schema import DOCUMENTS
    from topo2osm_spark.streaming.stream import stream_dedup_exact

    def doc(doc_id, text):
        return (doc_id, [("sosi", text, None, 0)])

    inp = str(tmp_path / "dd_in")
    # batch 0: a, b(dup of a), c — one file; batch 1: d(dup of a), e
    spark.createDataFrame([doc("a", "X"), doc("b", "X"), doc("c", "Y")],
                          DOCUMENTS).coalesce(1) \
        .write.mode("overwrite").parquet(inp)
    spark.createDataFrame([doc("d", "X"), doc("e", "Z")],
                          DOCUMENTS).coalesce(1) \
        .write.mode("append").parquet(inp)

    stream = (spark.readStream.schema(DOCUMENTS)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    q = (stream_dedup_exact(stream)
         .writeStream.format("memory").queryName("t_dedup_state")
         .option("checkpointLocation", str(tmp_path / "dd_ck"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM t_dedup_state").collect()
    # exactly one row per distinct fingerprint, all flagged first_seen
    by_fp = {r["fingerprint"]: r for r in rows}
    assert len(rows) == len(by_fp) == 3
    assert all(r["first_seen"] for r in rows)
    emitted_docs = {r["doc_id"] for r in rows}
    assert "c" in emitted_docs and "e" in emitted_docs
    assert ("a" in emitted_docs) or ("b" in emitted_docs)
    assert "d" not in emitted_docs  # cross-batch duplicate suppressed


def test_stream_dedup_state_fn_empty_frames():
    """A state group whose batch iterator yields only EMPTY frames
    (legal per the applyInPandasWithState contract) must emit nothing
    and create no state — previously crashed on unbound first_spans."""
    import pandas as pd
    from topo2osm_spark.streaming.stream import _dedup_state_fn

    class FakeState:
        exists = False
        def __init__(self):
            self.updated = None
        def update(self, v):
            self.updated = v

    empty = pd.DataFrame({"doc_id": [], "n_spans": []})
    st = FakeState()
    out = list(_dedup_state_fn(("fp0",), iter([empty, empty]), st))
    assert len(out) == 1 and len(out[0]) == 0
    assert st.updated is None  # no state created for an all-empty group

    # sanity: non-empty group still emits once and seeds state
    st2 = FakeState()
    one = pd.DataFrame({"doc_id": ["a"], "n_spans": [3]})
    out2 = pd.concat(list(_dedup_state_fn(("fp1",), iter([empty, one]), st2)))
    assert list(out2["doc_id"]) == ["a"] and st2.updated == (1, "a")


def test_osm_xml_sink(spark, pipeline_out, tmp_path):
    from topo2osm_spark.sources import osm_xml
    nodes_xml = osm_xml.nodes_to_xml(pipeline_out["nodes"].limit(50).coalesce(1))
    shard = nodes_xml.collect()[0]["xml"]
    root = ET.fromstring(shard)
    assert root.tag == "osm" and root.get("upload") == "false"
    nds = root.findall("node")
    assert len(nds) == 50
    assert all(int(n.get("id")) < 0 for n in nds)

    ways_xml = osm_xml.ways_to_xml(
        pipeline_out["ways"].where(F.col("emit")).limit(10).coalesce(1))
    wroot = ET.fromstring(ways_xml.collect()[0]["xml"])
    ws = wroot.findall("way")
    assert 0 < len(ws) <= 10
    w0 = ws[0]
    assert len(w0.findall("nd")) > 0
    assert all(int(nd.get("ref")) < 0 for nd in w0.findall("nd"))

    rels_xml = osm_xml.relations_to_xml(
        pipeline_out["relations"].limit(5).coalesce(1))
    rroot = ET.fromstring(rels_xml.collect()[0]["xml"])
    rels = rroot.findall("relation")
    assert 0 < len(rels) <= 5
    r0 = rels[0]
    types = {t.get("k"): t.get("v") for t in r0.findall("tag")}
    assert types.get("type") == "multipolygon"
    roles = {m.get("role") for m in r0.findall("member")}
    assert "outer" in roles


def test_osm_xml_tagged_points(spark, pipeline_out):
    """POI nodes in the XML sink: tagged points serialize as <node>
    elements WITH <tag/> children (peaks, elevation labels)."""
    from topo2osm_spark.sources import osm_xml
    xml = osm_xml.points_to_xml(
        pipeline_out["points"].coalesce(1)).collect()[0]["xml"]
    root = ET.fromstring(xml)
    nodes = root.findall("node")
    assert nodes
    tags_seen = set()
    for n in nodes:
        assert int(n.get("id")) < 0
        for t in n.findall("tag"):
            tags_seen.add((t.get("k"), t.get("v")))
    assert ("natural", "peak") in tags_seen
    assert any(k == "ele" for k, _ in tags_seen)


def test_split_tagged_nodes(spark, pipeline_out):
    """--xml node-space partition: every node id is defined exactly once
    (tagged points absorb their shared-node twin; plain side anti-joined),
    and tag maps merging on one node id resolve duplicate keys to MIN."""
    from topo2osm_spark.sources import osm_xml
    plain, tagged = osm_xml.split_tagged_nodes(
        pipeline_out["nodes"], pipeline_out["points"])
    plain_ids = {r["node_id"] for r in plain.select("node_id").collect()}
    tagged_ids = {r["node_id"] for r in tagged.select("node_id").collect()}
    node_ids = {r["node_id"]
                for r in pipeline_out["nodes"].select("node_id").collect()}
    point_ids = {r["node_id"]
                 for r in pipeline_out["points"].select("node_id").collect()}
    assert tagged_ids == point_ids
    assert plain_ids == node_ids - point_ids      # no id defined twice
    assert plain_ids.isdisjoint(tagged_ids)

    # duplicate node id across two points: tags merge, min value wins
    pts = spark.createDataFrame(
        [(-1, 1.0, 2.0, {"ele": "20", "name": "b"}),
         (-1, 1.0, 2.0, {"ele": "10"}),
         (-2, 3.0, 4.0, {"natural": "peak"})],
        "node_id long, lat double, lon double, tags map<string,string>")
    nds = spark.createDataFrame(
        [(-1, 1.0, 2.0), (-3, 5.0, 6.0)], "node_id long, lat double, lon double")
    p2, t2 = osm_xml.split_tagged_nodes(nds, pts)
    rows = {r["node_id"]: r["tags"] for r in t2.collect()}
    assert rows[-1] == {"ele": "10", "name": "b"}
    assert rows[-2] == {"natural": "peak"}
    assert [r["node_id"] for r in p2.collect()] == [-3]


def test_windowed_late_data_dropped_in_stream(spark, tmp_path):
    """The §2.11 watermark contract driven in ACTUAL streaming mode:
    an event arriving after the watermark has passed its window is
    dropped — the emitted window count excludes it — while an on-time
    event in the same micro-batch lands normally (append mode: a
    window emits once its end passes the watermark)."""
    import datetime as dt
    inp = str(tmp_path / "ev_stream")
    ckpt = str(tmp_path / "ev_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(inp)

    T = dt.datetime
    # batch 1: two events in the 10:00 hour + one at 12:00 that will
    # advance the watermark to 11:50 (10-minute watermark)
    write_batch("b1", [(T(2026, 1, 1, 10, 0), "click", 1.0),
                       (T(2026, 1, 1, 10, 20), "click", 1.0),
                       (T(2026, 1, 1, 12, 0), "click", 1.0)])

    from topo2osm_spark.streaming.stream import windowed_event_counts
    ev = (spark.readStream
          .schema("ts timestamp, event_type string, value double")
          .option("maxFilesPerTrigger", 1).parquet(inp))
    q = (windowed_event_counts(ev, window="1 hour", watermark="10 minutes")
         .writeStream.format("memory").queryName("t_late_win")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # batch 2: one LATE event (10:30 < watermark 11:50) + one
        # on-time event; then a batch-3 event far ahead to flush the
        # 12:00 window past the watermark
        write_batch("b2", [(T(2026, 1, 1, 10, 30), "click", 1.0),
                           (T(2026, 1, 1, 12, 10), "click", 1.0)])
        q.processAllAvailable()
        write_batch("b3", [(T(2026, 1, 1, 15, 0), "click", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["window_start"].hour: r["n"]
            for r in spark.table("t_late_win").collect()}
    assert rows[10] == 2, "late 10:30 event must be DROPPED by the watermark"
    assert rows[12] == 2, "on-time 12:10 event must land in its window"
