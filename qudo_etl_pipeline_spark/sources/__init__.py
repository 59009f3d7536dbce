"""Sources & sinks: every IO surface from SURVEY §2.1 (S1-S8)."""

from qudo_etl_pipeline_spark.sources.io import (  # noqa: F401
    exists,
    read_csv,
    read_json_doc,
    read_json_table,
    read_parquet,
    write_csv_single,
    write_json_doc,
    write_parquet,
)
