"""Driver-side literal row sets as JVM LocalRelations.

Shared by the query engine (query marker and stats tables per batch) and the
index builder (partition offsets, heavy-term salt list).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import SparkSession


# Above this many rows a literal VALUES table would bloat SQL parse time;
# fall back to the RDD-backed createDataFrame (still correct, just not a
# LocalRelation)
_MAX_VALUES_ROWS = 20_000


def literal_df(spark: SparkSession, rows, schema_ddl: str):
    """Small driver-side row set -> a JVM LocalRelation DataFrame.

    ``spark.createDataFrame(list)`` builds a LogicalRDD over pickled Python
    rows: EVERY stage that scans it (and the BroadcastExchange that builds
    the query-stats hash relation) launches Python workers just to re-read
    constants — measured ~0.3s of executor time per 32-task stage on the
    query path. A SQL ``VALUES`` inline table resolves to a LocalRelation
    at analysis time instead: pure JVM, no Python eval, broadcast directly.

    Strings ride as ``unbase64`` literals (foldable — ResolveInlineTables
    evaluates them during analysis), so arbitrary content needs no SQL
    escaping. Ints/floats use exact literals (repr(float) round-trips IEEE
    754 bit-for-bit through the SQL parser). ``array<...>`` and
    ``map<...>`` columns (Python lists and dicts) become ``array(...)`` and
    ``map(...)`` of those literals. Falls back to createDataFrame
    for very large row sets, where parse time would dominate.
    """
    import base64

    fields = []  # (name, type) from the DDL, e.g. "query_id long, x string"
    for part in re.split(r",(?![^<]*>)", schema_ddl):  # commas outside <...>
        name, typ = part.strip().split(None, 1)
        fields.append((name, typ.replace(" ", "").lower()))
    if len(rows) > _MAX_VALUES_ROWS:
        return spark.createDataFrame(rows, schema_ddl)
    if not rows:
        return spark.createDataFrame([], schema_ddl)

    base_types = {
        "long": "BIGINT", "bigint": "BIGINT", "int": "INT",
        "double": "DOUBLE", "string": "STRING", "boolean": "BOOLEAN",
    }

    def sql_type(typ):
        if typ.startswith("array<"):
            return f"ARRAY<{sql_type(typ[6:-1])}>"
        if typ.startswith("map<"):
            key, val = typ[4:-1].split(",", 1)
            return f"MAP<{sql_type(key)},{sql_type(val)}>"
        return base_types[typ]

    def cell(v, typ):
        if v is None:
            return f"CAST(NULL AS {sql_type(typ)})"
        if typ.startswith("array<"):
            items = ",".join(cell(x, typ[6:-1]) for x in v)
            return f"CAST(array({items}) AS {sql_type(typ)})"
        if typ.startswith("map<"):
            key, val = typ[4:-1].split(",", 1)
            items = ",".join(
                f"{cell(k, key)},{cell(x, val)}" for k, x in v.items()
            )
            return f"CAST(map({items}) AS {sql_type(typ)})"
        if typ == "string":
            b = base64.b64encode(v.encode("utf-8")).decode("ascii")
            return f"CAST(unbase64('{b}') AS STRING)"
        if typ == "double":
            # via a STRING cast: Double.parseDouble round-trips repr()
            # bit-exactly INCLUDING the sign of zero, while a bare SQL
            # numeric literal parses as DECIMAL and loses -0.0
            if not math.isfinite(v):
                raise ValueError("non-finite double literal")  # -> fallback
            return f"CAST('{v!r}' AS DOUBLE)"
        if typ in ("long", "bigint"):
            return f"CAST({int(v)} AS BIGINT)"
        if typ == "int":
            return f"CAST({int(v)} AS INT)"
        if typ == "boolean":
            return "true" if v else "false"
        raise ValueError(f"unsupported literal type {typ}")

    try:
        values = ",".join(
            "(" + ",".join(cell(v, t) for v, (_, t) in zip(row, fields)) + ")"
            for row in rows
        )
        return spark.sql(
            f"SELECT * FROM VALUES {values} "
            f"AS t({','.join(name for name, _ in fields)})"
        )
    except Exception:
        # robustness net for values the literal route cannot express
        # (e.g. strings with lone surrogates): same rows, RDD-backed
        return spark.createDataFrame(rows, schema_ddl)


