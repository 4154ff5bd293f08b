"""Structured Streaming adaptations (SURVEY.md §2.11).

The reference is a one-shot batch converter; the north rule demands a
resumable batch job (covered by sources/warehouse.py). This module
exists because the stateless pipeline PREFIX — span explode -> the
fused SOSI parse/reproject/span-local assembly pass — runs unchanged
under Structured Streaming: the same narrow operators compose over
readStream, giving an incremental-ingest path for a documents table
that grows continuously. Joins/aggregations past the prefix would
need watermark design and are deliberately out of scope (documented,
not planned).

Also provides the watermarked windowed-aggregation demo over the
driver's `events` table shape: the standard late-data-tolerant
tumbling-window count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from topo2osm_spark.schema import DOCUMENTS, GEO_OBJECTS


def stream_parse_prefix(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a parquet documents directory -> parsed +
    reprojected geometry objects (the stateless pipeline prefix): the
    object rows of the pipeline's fused kernel, GEO_OBJECTS columns."""
    from topo2osm_spark.plans.pipeline import explode_spans
    from topo2osm_spark.sources import sosi

    docs = (spark.readStream.schema(DOCUMENTS)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir))
    spans = explode_spans(docs)
    geo = sosi.tokenize_project_assemble_spans(
        spans.where(F.col("kind") == "sosi"))
    return (geo.where(F.col("row_kind") == "obj")
            .select(*GEO_OBJECTS.fieldNames()))


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation (late data dropped past
    the watermark). Works identically on a batch DataFrame (window()
    is a plain function) and a streaming one."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


def _dedup_state_fn(key, pdfs, state):
    """applyInPandasWithState body for stream_dedup_exact — module-level
    so the empty-frame-iterator edge is unit-testable with a mock state.
    A group whose iterator yields only empty frames (possible per the
    API contract even though the memory-sink harness always delivers
    >= 1 row per keyed group) must neither emit nor create state."""
    import pandas as pd

    fp = key[0]
    n_new, first_doc, first_spans, emit = 0, None, 0, []
    for pdf in pdfs:
        for doc_id, n_spans in zip(pdf["doc_id"], pdf["n_spans"]):
            n_new += 1
            if first_doc is None:
                first_doc = doc_id
                first_spans = int(n_spans)
    if state.exists:
        (n_seen, first) = state.get
        state.update((n_seen + n_new, first))
    elif first_doc is not None:   # all-empty frame iterators create no state
        state.update((n_new, first_doc))
        emit.append({"fingerprint": fp, "doc_id": first_doc,
                     "n_spans": first_spans, "first_seen": True})
    yield pd.DataFrame(emit, columns=["fingerprint", "doc_id",
                                      "n_spans", "first_seen"])


def stream_dedup_exact(docs: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    first-seen-wins exact dedup over a growing documents stream.

    State is keyed by the normalized content fingerprint (md5 of the
    concatenated text spans — same normalization as the batch
    operators/dedup.exact path); the first document carrying a
    fingerprint is emitted with n_dups=0, later arrivals only bump the
    state counter and emit nothing. This is the streaming face of the
    training-data dedup suite: run it in front of a corpus sink and
    only novel documents flow through.

    State size is one (long, string) per DISTINCT document — bounded
    by corpus novelty, not stream length. No timeout: dedup identity
    must persist for the life of the stream (a TTL would re-admit old
    duplicates); for bounded-retention deployments pass the state
    through GroupStateTimeout.ProcessingTimeTimeout instead."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("fingerprint string, doc_id string, n_spans int, "
                  "first_seen boolean")
    state_schema = "n_seen long, first_doc string"
    dedup_fn = _dedup_state_fn

    if "spans" in docs.columns:       # geo documents (input_hint shape)
        fingered = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.size("spans").alias("n_spans"),
            F.md5(F.concat_ws(
                "\x1f",
                F.transform(F.array_sort(F.transform(
                    "spans", lambda s: F.struct(s["offset"].alias("offset"),
                                                s["text"].alias("text")))),
                    lambda s: F.coalesce(s["text"], F.lit(""))))).alias("fingerprint"))
    else:                             # text corpus (documents table)
        from topo2osm_spark.functions.text import fingerprint_md5
        fingered = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(1).alias("n_spans"),
            fingerprint_md5(F.coalesce(F.col("text"), F.lit("")))
            .alias("fingerprint"))
    return (fingered.groupBy("fingerprint")
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def run_stream_to_memory(spark: SparkSession, input_dir: str,
                         name: str = "stream_objects") -> DataFrame:
    """Drive the streaming prefix to completion against a static dir
    (memory sink + processAllAvailable) — the smoke-test harness."""
    q = (stream_parse_prefix(spark, input_dir)
         .select("doc_id", "span_idx", "obj_kind", "obj_id", "objtype")
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")
