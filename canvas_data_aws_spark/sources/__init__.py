from canvas_data_aws_spark.sources.parquet import TABLES, load_table

__all__ = ["TABLES", "load_table"]
