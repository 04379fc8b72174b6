"""Sources & sinks (SURVEY.md §2.2 scans block).

Thin, schema-aware readers over the fixture tables plus generic
csv/json/text readers and partitioned writers. The Delta/Iceberg connector
jars are not in this environment, so ``write_table(fmt="delta")`` fails in
Spark with ``DATA_SOURCE_NOT_FOUND``; both formats are implemented in-repo
instead (``delta_lite``, ``iceberg_lite``).
"""

from tscd_datalake_adapter_spark.sources.tables import (
    TABLE_NAMES,
    ensure_engine_confs,
    load_table,
    load_tables,
    read_csv,
    read_json,
    read_text,
    recursion_row_budget,
    register_views,
    write_partitioned,
    write_table,
)

__all__ = [
    "TABLE_NAMES",
    "ensure_engine_confs",
    "load_table",
    "load_tables",
    "read_csv",
    "read_json",
    "read_text",
    "recursion_row_budget",
    "register_views",
    "write_partitioned",
    "write_table",
]
