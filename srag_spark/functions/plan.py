"""Plan helpers for driver-side relations.

:func:`local_frame` turns a handful of driver-side rows into a
DataFrame backed by a Catalyst ``LocalRelation``, shipped once through
Arrow.  Collecting it — or any projection of it that Catalyst can fold,
e.g. the key-bucket hash of a point lookup — launches no Spark job.
``spark.createDataFrame(list)`` instead parallelizes a Python RDD, so
every action over it is a job with Python-worker round trips.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a local relation
    with exactly ``schema``'s types; row order is preserved."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
