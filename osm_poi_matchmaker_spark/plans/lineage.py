"""Per-partition lineage / metrics rows (BASELINE.json north_rule A7).

The reference's closest analogue is per-stage tracemalloc + row-count
logging (``utils/memory_info.py:17-52``, ``dao/data_handlers.py:37-38``).
At cluster scale the requirement is a metrics TABLE: one row per cell
bucket recording cell range, input rows, and match counts, written next to
each checkpoint so a resumed job can verify partition completeness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cells per lineage bucket: cell_id >> 8 groups 256 fine columns of the
# row-major grid — coarse enough for a small metrics table, fine enough to
# localize a bad partition.
BUCKET_SHIFT = 8


def match_lineage(matched: DataFrame) -> DataFrame:
    """Metrics rows over a match output that carries (cell_id, osm_id, distance).

    Returns one row per cell bucket: cell range, input rows, matched /
    new counts, min/max match distance (meters, rounded to cm; NULL when
    nothing in the bucket matched).
    """
    return (
        matched.withColumn("cell_bucket", F.shiftright(F.col("cell_id"), BUCKET_SHIFT))
        .groupBy("cell_bucket")
        .agg(
            F.min("cell_id").alias("cell_min"),
            F.max("cell_id").alias("cell_max"),
            F.count(F.lit(1)).alias("input_rows"),
            F.count("osm_id").alias("matched_rows"),
            F.sum(F.when(F.col("osm_id").isNull(), 1).otherwise(0)).alias("new_rows"),
            F.round(F.min("distance"), 2).alias("dist_min"),
            F.round(F.max("distance"), 2).alias("dist_max"),
        )
    )
