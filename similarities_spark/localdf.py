"""Driver-side row sets as JVM LocalRelations, through one Arrow boundary.

Shared by the query engine (hits, query markers and the broadcast query
stats of each batch) and the index builder (partition offsets, heavy-term
salt list).

``spark.createDataFrame`` of Python rows builds a LogicalRDD over pickled
rows: every stage that scans it (and the BroadcastExchange that builds a
hash relation from it) launches Python workers just to re-read constants.
``spark.createDataFrame`` of a ``pa.Table`` instead plans as a
``LocalRelation``: pure JVM, no Python eval at scan time, broadcast
directly, and collecting it runs no Spark job. Arrow carries every value
exactly: doubles bit for bit (-0.0, subnormals, nan and ±inf included),
strings as UTF-8, lists and maps with their nulls. A string that cannot be
UTF-8 (a lone surrogate) raises ``UnicodeEncodeError``; index terms never
hold one, since they were read back from UTF-8 parquet.
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


@functools.lru_cache(maxsize=64)
def _arrow_schema(schema_ddl: str) -> pa.Schema:
    """The Arrow schema of a DDL string, parsed by Spark's own parser (JVM
    round trips) and mapped to Arrow types by PySpark's own mapping; once
    per DDL string, as callers pass a handful of constant ones."""
    return to_arrow_schema(_parse_datatype_string(schema_ddl))


def literal_df(spark: SparkSession, rows, schema_ddl: str) -> DataFrame:
    """``rows`` (tuples in ``schema_ddl`` column order, e.g.
    ``"query_id long, tokens array<string>"``) -> a LocalRelation
    DataFrame of exactly that schema."""
    schema = _arrow_schema(schema_ddl)
    columns = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.table(
            [pa.array(col, f.type) for col, f in zip(columns, schema)],
            schema=schema,
        )
    )
