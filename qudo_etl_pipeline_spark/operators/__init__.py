from qudo_etl_pipeline_spark.operators.contingency import (
    ContingencyTables,
    contingency_tables,
    deliver_stats,
    discover_stats,
)

__all__ = [
    "ContingencyTables",
    "contingency_tables",
    "deliver_stats",
    "discover_stats",
]
