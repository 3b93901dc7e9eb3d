"""Driver-built DataFrames as Arrow local relations.

Catalogs, run summaries, rendered report lines and literal result rows are
built from Python rows on the driver and are driver-sized by construction.
``spark.createDataFrame`` over a list of tuples ships such rows through
``sc.parallelize``, so every action on the frame runs a Spark job and forks
Python workers (~0.3-0.5 s warm for a handful of rows). Handed a
``pyarrow.Table`` instead, Spark keeps the rows as a ``LocalRelation`` while
they fit under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
default): the optimizer folds filters and projections into it
(``ConvertToLocalRelation``) and ``collect()`` is a ``LocalTableScanExec``
that runs no job. Above the threshold Spark itself falls back to an RDD of
the same Arrow batches, so there is no size bound to keep here.

:func:`local_frame` is the package's only ``createDataFrame`` call
(``tests/test_frames.py`` walks the package AST to keep it that way).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """DataFrame of ``rows`` (tuples in ``schema`` order) built through Arrow.

    ``schema`` is a ``StructType`` or a DDL string (``"a string, b bigint"``);
    values must already be the schema's Python types — Arrow converts them
    without the list path's coercions. A NULL in a ``nullable=False`` field
    raises, as ``createDataFrame``'s schema verification does.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    for field, column in zip(schema.fields, table.columns):
        if not field.nullable and column.null_count:
            raise ValueError(f"NULL in non-nullable field {field.name!r}")
    return spark.createDataFrame(table, schema)
