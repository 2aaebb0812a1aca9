"""Session-conf accessors that tolerate vendor-platform values.

Stock Spark validates ``spark.sql.shuffle.partitions`` as an int at set
time, but sessions inherited from vendor AQE extensions can carry
non-numeric values such as ``"auto"`` — a bare ``int(conf.get(...))``
then crashes every operator that pins an explicit shuffle width
(bucketed writes, blocked-linkage repartitions).
"""

from __future__ import annotations


def shuffle_partitions_conf(spark, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``default`` when the conf is unset or non-numeric."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default

