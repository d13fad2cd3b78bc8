from kafka_connector_s3_sink_spark.functions.numeric import stable_round

__all__ = ["stable_round"]
