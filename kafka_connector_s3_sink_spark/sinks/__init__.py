from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage
from kafka_connector_s3_sink_spark.sinks.writer import write_batch

__all__ = ["ObjectStorage", "write_batch"]
