from kafka2clickhouse_py_streamer_spark.pipeline.core import process_batch

__all__ = ["process_batch"]
