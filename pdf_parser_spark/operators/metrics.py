"""W3 metrics: the batch status rollup (ref cli.py:127-138) as a groupBy
aggregation over the extraction output."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_summary(extracted: DataFrame) -> DataFrame:
    """Succeeded/failed counts by status (ref cli.py:127-138)."""
    return extracted.groupBy("status").agg(F.count("*").alias("n_docs")).orderBy("status")
