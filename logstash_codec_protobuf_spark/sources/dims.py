"""Enrichment dimension tables (broadcast dictionaries).

Generalizes the reference's constant-size field/enum dictionaries probed per record
(@metainfo_messageclasses lookup, protobuf.rb:654-657; descriptor-pool lookups
:455,477,487) into small dimension tables joined with an explicit broadcast hash
join — the canonical Spark shape for a per-row map probe. Single source of truth:
the Python rows below render both the Spark DataFrame and a DuckDB VALUES CTE so
oracles match exactly.

`tools.sink` drives the tag-based fan-out routing (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

from ..schema import default_registry

ROLES_ROWS = [
    # (role, role_group, is_agent)
    ("user", "human", False),
    ("assistant", "agent", True),
    ("system", "control", False),
]

TOOLS_ROWS = [
    # (tool, tool_family, sink)
    ("none", "core", "sink_a"),
    ("search", "web", "sink_b"),
    ("browser", "web", "sink_b"),
    ("calc", "math", "sink_c"),
    ("code", "dev", "sink_c"),
    ("sql", "dev", "sink_d"),
]


# per-session cache of the dim frames. A local relation costs nothing per
# query, so this saves only the one Arrow hand-off per dim and session (the
# py4j calls that serialise the rows and build the relation).
# WeakKeyDictionary keyed on the live SparkSession: entries die with the
# session object, so stopped sessions (bench.run_scaling creates/stops many
# per process) don't pin DataFrames or grow the cache unboundedly.
import weakref  # noqa: E402

_DIM_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _cached(spark: SparkSession, key: str, build) -> DataFrame:
    per_session = _DIM_CACHE.setdefault(spark, {})
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


def _local_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Dictionary rows as a JVM-local relation (``LocalTableScan``).

    ``createDataFrame(list)`` would parallelize the rows as a Python RDD, and
    every query that broadcasts the dim would run Python-worker tasks to read
    a few rows back. An Arrow table is shipped to the JVM once and planned as
    a local relation, with the same DDL schema (types and nullability)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def roles_df(spark: SparkSession) -> DataFrame:
    return _cached(spark, "roles", lambda: _local_df(
        spark, ROLES_ROWS, "role string, role_group string, is_agent boolean"))


def tools_df(spark: SparkSession) -> DataFrame:
    return _cached(spark, "tools", lambda: _local_df(
        spark, TOOLS_ROWS, "tool string, tool_family string, sink string"))


def enums_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, default_registry().enum_rows(),
                     "enum_class string, code int, name string")


def _values_cte(rows, cols) -> str:
    def lit(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


ROLES_SQL = _values_cte(ROLES_ROWS, ["role", "role_group", "is_agent"])
TOOLS_SQL = _values_cte(TOOLS_ROWS, ["tool", "tool_family", "sink"])
ENUMS_SQL = _values_cte(
    default_registry().enum_rows(), ["enum_class", "code", "name"]
)
