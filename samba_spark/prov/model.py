"""Logical schema of the provenance store.

One table per CQL table of the reference keyspace ``dfanalyzer``
(reference CassandraDatabaseScript.cql:1-62):

| ours                    | reference CQL table           |
|-------------------------|-------------------------------|
| executions              | executions                    |
| tasks                   | task                          |
| task_deps               | "DependenciesOfTask"          |
| elements                | "dataElement"                 |
| element_deps            | "DependenciesOfDataElement"   |
| filegroup_refs          | fileGroupReference            |
| transformation_groups   | transformationGroup           |

``elements.values`` keeps the reference's stringified
``LIST<FROZEN<LIST<text>>>`` shape (DataElement.scala:146-155) for query
parity; ``value_json`` adds a lossless JSON round-trip the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import types as T

EXECUTIONS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("start_time", T.DoubleType(), True),
        T.StructField("end_time", T.DoubleType(), True),
    ]
)

# One row per operator vertex (reference br/uff/spark/Task.scala:12-31).
TASKS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("transformation_type", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("schema_fields", T.ArrayType(T.StringType()), True),
        T.StructField("group_id", T.StringType(), True),
        T.StructField("ignored", T.BooleanType(), True),
    ]
)

TASK_DEPS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("dep_task_id", T.StringType(), False),
    ]
)

ELEMENTS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("element_id", T.StringType(), False),
        T.StructField("values", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField("value_json", T.StringType(), True),
    ]
)

# Element mutations (update/delete) as append-only rows; the latest ``seq``
# per element wins (ProvStore.read_elements_current).
ELEMENT_OVERRIDES = T.StructType(
    list(ELEMENTS.fields) + [T.StructField("seq", T.LongType(), False)]
)

ELEMENT_DEPS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("element_id", T.StringType(), False),
        T.StructField("dep_element_id", T.StringType(), False),
    ]
)

FILEGROUP_REFS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), True),
        T.StructField("element_id", T.StringType(), True),
        T.StructField("folder_path", T.StringType(), True),
    ]
)

TRANSFORMATION_GROUPS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("group_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("init_tasks", T.ArrayType(T.StringType()), True),
        T.StructField("intermediary_tasks", T.ArrayType(T.StringType()), True),
        T.StructField("finish_task", T.StringType(), True),
    ]
)

TABLES = {
    "executions": EXECUTIONS,
    "tasks": TASKS,
    "task_deps": TASK_DEPS,
    "elements": ELEMENTS,
    "element_deps": ELEMENT_DEPS,
    "filegroup_refs": FILEGROUP_REFS,
    "transformation_groups": TRANSFORMATION_GROUPS,
}

# Column names used for in-flight provenance on user DataFrames.
PROV_ID = "_prov_id"
PROV_DEPS = "_prov_deps"
PROV_COLS = (PROV_ID, PROV_DEPS)
