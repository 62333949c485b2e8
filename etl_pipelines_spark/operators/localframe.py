"""Driver-held rows -> DataFrame, through Arrow.

The engine's one way to hand rows computed on the driver (a band
dimension, requested quantiles, union-find labels) to Spark. PySpark
4.1 turns ``spark.createDataFrame(list_of_tuples)`` into a pickled
Python RDD: every task that reads it starts a Python worker to decode
the rows, and Catalyst sees an opaque RDD scan it cannot size. The
same rows as a ``pyarrow.Table`` plan as a ``LocalTableScan``:
serialized once on the driver, read in the JVM, sized for broadcast
like any literal relation.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, columns: dict[str, Sequence], schema: str
) -> DataFrame:
    """``columns`` (name -> equal-length values, in ``schema`` order)
    as a DataFrame with the DDL ``schema``, planned as a
    LocalTableScan."""
    st = StructType.fromDDL(schema)
    table = pa.table(dict(columns), schema=to_arrow_schema(st))
    return spark.createDataFrame(table, st)
