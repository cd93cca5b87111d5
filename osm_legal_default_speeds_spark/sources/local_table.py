"""Driver-built lookup tables handed to Spark as Arrow local relations.

``spark.createDataFrame(rows, schema)`` over Python rows plans a
``Scan ExistingRDD`` whose rows stay pickled: every query that scans the
table unpickles them again in the JVM (``applySchemaToPythonRDD``).
For the small tables a plan broadcasts on every run (the PIP and kNN
cell indexes, the rule cascade's country dim) that unpickle sat on the
critical path of each query. Built as a ``pyarrow.Table`` instead, the
table becomes a ``LocalRelation`` held in the plan (``LocalTableScan``)
while it is under ``spark.sql.execution.arrow.localRelationThreshold``;
above it Spark falls back to an RDD of Arrow batches on its own.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_table_df(spark, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with the same rows and the
    same schema (names, types, nullability), built through Arrow.
    ``rows`` are tuples in ``schema`` order; struct values may be dicts
    or tuples and map values dicts, as for ``createDataFrame``. Needs no
    ``spark.sql.execution.arrow.pyspark.enabled``: an Arrow table is
    always transferred as Arrow."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
