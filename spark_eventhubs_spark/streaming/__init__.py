"""Rate limiting and the slow-partition tracker used by the
``format("eventhubs")`` stream reader, plus the stateful streaming
operators in ``streaming.stateful``."""

from spark_eventhubs_spark.streaming.ratelimit import rate_limit
from spark_eventhubs_spark.streaming.tracker import PartitionsStatusTracker

__all__ = ["rate_limit", "PartitionsStatusTracker"]
