"""Engine schemas (SURVEY.md §1.2) — fixed StructTypes, no inference.

The input table shape is the driver's input_hint (BASELINE.json:15):
documents(doc_id string, spans array<struct<kind, text, media_ref,
offset>>). Everything downstream is a fixed columnar schema so
Catalyst can prune nested fields and the Arrow boundary stays typed.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("offset", T.IntegerType(), False),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN), False),
])

# One parsed SOSI object, as sources/sosi.parse_fragment returns it.
# coords are meters in the span's UTM zone: [north, east] or [north,
# east, height]; kp marks junction-point coordinate indices; refs /
# hole_group only for FLATE (parallel arrays, hole_group 0 = outer).
PARSED_OBJECTS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("span_idx", T.IntegerType(), False),
    T.StructField("obj_kind", T.StringType(), False),
    T.StructField("obj_id", T.LongType(), False),
    T.StructField("objtype", T.StringType(), True),
    # TEKST label payload (..STRENG — lake elevation labels etc.);
    # null for all other object kinds
    T.StructField("streng", T.StringType(), True),
    T.StructField("coords", T.ArrayType(T.ArrayType(T.DoubleType())), True),
    T.StructField("kp", T.ArrayType(T.IntegerType()), True),
    T.StructField("refs", T.ArrayType(T.LongType()), True),
    T.StructField("hole_group", T.ArrayType(T.IntegerType()), True),
    T.StructField("koordsys", T.IntegerType(), False),
    T.StructField("enhet", T.DoubleType(), False),
])

# Reprojected objects (the object rows of the fused kernel below): raw
# coords are consumed inside the kernel and dropped — lats/lons
# parallel arrays + the scalar NØH height replace them.
GEO_OBJECTS = T.StructType(
    [f for f in PARSED_OBJECTS.fields if f.name != "coords"] + [
        T.StructField("lats", T.ArrayType(T.DoubleType()), True),
        T.StructField("lons", T.ArrayType(T.DoubleType()), True),
        T.StructField("height", T.DoubleType(), True),
    ])

# Union output of the fully-fused parse+project+assemble kernel
# (sources/sosi.py tokenize_project_assemble_spans): object rows carry
# GEO_OBJECTS columns (ring extras null); ring rows carry the
# ASSEMBLED_RINGS payload with obj_kind='RING', obj_id=flate_id.
GEO_WITH_RINGS = T.StructType(
    GEO_OBJECTS.fields + [
        T.StructField("row_kind", T.StringType(), False),
        T.StructField("flate_id", T.LongType(), True),
        T.StructField("ring_idx", T.IntegerType(), True),
        T.StructField("is_hole", T.BooleanType(), True),
        T.StructField("closed", T.BooleanType(), True),
        T.StructField("area", T.DoubleType(), True),
        T.StructField("n_curves", T.IntegerType(), True),
        # FLATE obj rows: count of ..REF entries with no curve in the
        # SAME span. >0 routes the flate through the document-wide
        # shuffle assembly fallback (span-local fused assembly would
        # silently drop those rings — VERDICT r4 "what's wrong" #2).
        T.StructField("n_orphan_refs", T.IntegerType(), True),
    ])

ASSEMBLED_RINGS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("span_idx", T.IntegerType(), False),
    T.StructField("flate_id", T.LongType(), False),
    T.StructField("objtype", T.StringType(), True),
    T.StructField("ring_idx", T.IntegerType(), False),
    T.StructField("is_hole", T.BooleanType(), False),
    T.StructField("lats", T.ArrayType(T.DoubleType()), False),
    T.StructField("lons", T.ArrayType(T.DoubleType()), False),
    T.StructField("closed", T.BooleanType(), False),
    T.StructField("area", T.DoubleType(), False),
    T.StructField("n_curves", T.IntegerType(), False),
])

NODES = T.StructType([
    T.StructField("node_id", T.LongType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("lon", T.DoubleType(), False),
    T.StructField("n_refs", T.IntegerType(), False),
])

LINEAGE = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("rows", T.LongType(), False),
    T.StructField("fingerprint", T.StringType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])
