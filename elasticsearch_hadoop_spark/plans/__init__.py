"""Plan-level tooling: `.explain("formatted")` parsing and assertions."""

from elasticsearch_hadoop_spark.plans.inspect import (  # noqa: F401
    JOIN_NODES,
    codegen_stages,
    complex_output_cols,
    count_nodes,
    formatted_plan,
    join_strategies,
    pushed_filters,
    read_schema_columns,
    read_schemas,
)
