"""Sources: readers over the driver-provided parquet testdata."""

from eecs485_p4_mapreduce_spark.sources.tables import (
    TABLES,
    load_table,
    parquet_schema,
    run_sql,
    widen_scan,
)

__all__ = ["TABLES", "load_table", "parquet_schema", "run_sql", "widen_scan"]
