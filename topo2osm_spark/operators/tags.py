"""OBJTYPE -> OSM tag mapping (SURVEY.md §2 op 15, §2.12).

The frozen executable spec of the reference's static tag table
[U: topo2osm.py::tag table; reference mount empty, SURVEY.md §0 —
table reconstructed from the public N50->OSM import conventions].
Applied as a literal map lookup (`create_map` + `element_at`): the
table is 26 rows, so tagging is a column expression in the geometry
side's own projection, with no join, broadcast or shuffle.

Glue/boundary object types (FiktivDelelinje, Dataavgrensning) map to
no tags and are dropped from way output — they exist only to close
polygons during assembly, matching the reference's behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import MapType, StringType

# (objtype, geometry kind 'KURVE'|'FLATE', {tags}); None tags = drop.
TAG_TABLE: list[tuple[str, str, dict | None]] = [
    ("Kystkontur", "KURVE", {"natural": "coastline"}),
    ("Innsjø", "FLATE", {"natural": "water"}),
    ("InnsjøRegulert", "FLATE", {"natural": "water", "water": "reservoir"}),
    ("ElvBekk", "FLATE", {"natural": "water", "water": "river"}),
    ("ElvBekk", "KURVE", {"waterway": "stream"}),
    ("Skog", "FLATE", {"natural": "wood"}),
    ("Myr", "FLATE", {"natural": "wetland", "wetland": "bog"}),
    ("SnøIsbre", "FLATE", {"natural": "glacier"}),
    ("DyrketMark", "FLATE", {"landuse": "farmland"}),
    ("Steinbrudd", "FLATE", {"landuse": "quarry"}),
    ("Industriområde", "FLATE", {"landuse": "industrial"}),
    ("Gravplass", "FLATE", {"landuse": "cemetery"}),
    ("Golfbane", "FLATE", {"leisure": "golf_course"}),
    ("Lufthavn", "FLATE", {"aeroway": "aerodrome"}),
    ("Rullebane", "FLATE", {"aeroway": "runway"}),
    ("Havflate", "FLATE", None),          # sea: bounded by coastline, no area
    ("FiktivDelelinje", "KURVE", None),   # assembly glue, dropped
    ("Dataavgrensning", "KURVE", None),   # dataset boundary, dropped
    ("Høydekurve", "KURVE", {"contour": "elevation"}),  # + ele from NØH
    ("Innsjøkant", "KURVE", None),        # lake edge: tags live on FLATE
    ("Skoggrense", "KURVE", None),
    ("ArealbrukGrense", "KURVE", None),
    ("Sti", "KURVE", {"highway": "path"}),
    ("Høydepunkt", "PUNKT", {"natural": "peak"}),
    # lake elevation labels: TEKST objects whose ..STRENG payload
    # becomes ele=<label> (with_streng_ele) on an emitted point node
    ("Høydetall", "TEKST", {}),
]


_TAGS_TYPE = MapType(StringType(), StringType())


def join_tags(df: DataFrame, spark: SparkSession, objtype_col: str = "objtype",
              kind_col: str = "geom_kind") -> DataFrame:
    """Add `tags` (the row's TAG_TABLE map) and `emit` by a lookup in a
    literal map from `objtype|geom_kind` (no table entry contains `|`)
    to the tags of the emitting rows: a column expression, with no
    DataFrame, join or broadcast job. A key not in the map (unknown
    objtype, other geom_kind, a null in either part, or tags None) reads
    null: an empty tag map and emit=false (the reference warns and
    skips unknown types). `spark` is unused."""
    table = F.create_map(*[
        c for ot, gk, t in TAG_TABLE if t is not None
        for c in (F.lit(f"{ot}|{gk}"),
                  F.create_map(*[F.lit(x) for kv in t.items() for x in kv])
                   .cast(_TAGS_TYPE))])
    t = F.element_at(table, F.concat(F.col(objtype_col), F.lit("|"),
                                     F.col(kind_col)))
    return df.withColumn(
        "tags", F.coalesce(t, F.create_map().cast(_TAGS_TYPE))
    ).withColumn("emit", t.isNotNull())


def with_ele(df: DataFrame, objtype_col: str = "objtype",
             height_col: str = "height") -> DataFrame:
    """Add `ele=<height>` to contour (Høydekurve) tag maps from the
    NØH height carried through reprojection (SURVEY.md §2.12). Integral
    heights render without a decimal point (the OSM convention for
    N50 contours); map_concat is safe — 'ele' is not in TAG_TABLE."""
    h = F.col(height_col)
    ele = F.when(h == F.floor(h), h.cast("long").cast("string")) \
           .otherwise(h.cast("string"))
    return df.withColumn(
        "tags",
        F.when((F.col(objtype_col) == "Høydekurve") & h.isNotNull(),
               F.map_concat("tags", F.create_map(F.lit("ele"), ele)))
         .otherwise(F.col("tags")))


def with_streng_ele(df: DataFrame, objtype_col: str = "objtype",
                    streng_col: str = "streng") -> DataFrame:
    """Add `ele=<STRENG>` to elevation-label (Høydetall TEKST) tag
    maps. The label string is emitted verbatim — the N50 sheet label
    IS the elevation text (SURVEY.md §2 op 9 "lake elevation, labels");
    map_concat is safe, 'ele' is not in the Høydetall base tags."""
    s = F.col(streng_col)
    return df.withColumn(
        "tags",
        F.when((F.col(objtype_col) == "Høydetall") & s.isNotNull()
               & (F.length(s) > 0),
               F.map_concat("tags", F.create_map(F.lit("ele"), s)))
         .otherwise(F.col("tags")))
