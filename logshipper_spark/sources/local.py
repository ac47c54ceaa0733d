"""Small driver-side tables (dimension lookups, literal key lists)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def local_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as a JVM ``LocalRelation``.

    ``createDataFrame(list)`` gives a Python-RDD ``LogicalRDD`` (``Scan
    ExistingRDD``), so every broadcast of it runs a Python-worker job.  A
    ``pyarrow.Table`` is shipped to the JVM once, at creation, and becomes a
    ``LocalRelation`` whether or not Arrow is enabled for the session.
    Names, types and nullability come from ``ddl`` exactly as with a list.
    """
    schema = DataType.fromDDL(ddl)
    table = pa.table({name: [r[i] for r in rows] for i, name in enumerate(schema.names)})
    return spark.createDataFrame(table, schema)
