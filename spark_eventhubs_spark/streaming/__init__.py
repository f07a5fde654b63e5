from spark_eventhubs_spark.streaming.ratelimit import rate_limit
from spark_eventhubs_spark.streaming.tracker import PartitionsStatusTracker

__all__ = ["rate_limit", "PartitionsStatusTracker"]
