"""Rate limiting, the slow-partition tracker and the legacy micro-batch
runner. Names resolve lazily (PEP 562), so importing a submodule such as
``streaming.ratelimit`` does not load the runner or pandas."""

__all__ = ["rate_limit", "PartitionsStatusTracker", "EventHubsSource", "MicroBatchRunner"]

_LAZY = {
    "rate_limit": "spark_eventhubs_spark.streaming.ratelimit",
    "PartitionsStatusTracker": "spark_eventhubs_spark.streaming.tracker",
    "EventHubsSource": "spark_eventhubs_spark.streaming.source",
    "MicroBatchRunner": "spark_eventhubs_spark.streaming.source",
}


def __getattr__(name: str):
    try:
        mod_name = _LAZY[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), name)
