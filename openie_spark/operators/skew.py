"""Skew handling: a salted repartition for the extract stage's input.

Join skew on hot entities is handled by plan shape, not by salting: the
pipeline's materialize joins and the random-walk step join broadcast their
small side, so the big side is never shuffled and no partition gathers a hot
key's rows.  Any remaining sort-merge join is split at runtime by AQE's
skew-join handling (on in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(df: DataFrame, n: int, *cols: str) -> DataFrame:
    """Uniform load-spreading repartition on a hashed key (the north star's
    'salted repartitioning on doc_id'): xxhash64 decorrelates adjacent ids so
    range-skewed inputs spread evenly; the column is dropped after use."""
    return (
        df.withColumn("_pk", F.xxhash64(*cols))
        .repartition(n, "_pk")
        .drop("_pk")
    )
