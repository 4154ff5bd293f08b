"""Deterministic salting (SURVEY.md §2 op 41; mandated by
BASELINE.json:6/14).

Dense coastal municipalities put a Zipf head on cell/municipality
keys. Appending `salt = pmod(xxhash64(<row id cols>), S)` to a shuffle
key spreads one hot key over S reducers (AQE skew-join stays on as
backstop). The conversion's own skew mechanisms live in
`operators/pip.py`: each ring's cover at its own resolution (the
adaptive cell split) and the salted refine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def add_salt(df: DataFrame, id_cols: list[str], buckets: int = 16,
             salt_col: str = "salt") -> DataFrame:
    """Deterministic salt derived from row identity (never random —
    resume/checkpoint must reproduce the same partitioning)."""
    return df.withColumn(salt_col,
                         F.pmod(F.xxhash64(*id_cols), F.lit(buckets)).cast("int"))
