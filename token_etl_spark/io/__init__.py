from token_etl_spark.io.sources import load_table, read_json_registry
from token_etl_spark.io.sinks import write_parquet, write_csv, upsert_by_key

__all__ = [
    "load_table",
    "read_json_registry",
    "write_parquet",
    "write_csv",
    "upsert_by_key",
]
