from ai_etl_framework_spark.sinks.writers import write_csv, write_json, write_parquet, write_jdbc

__all__ = ["write_csv", "write_json", "write_parquet", "write_jdbc"]
