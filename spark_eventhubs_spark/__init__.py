"""spark_eventhubs_spark — a PySpark-native re-implementation of the
query and data-processing capabilities of Azure/spark-eventhubs.

The reference (``/root/reference``, azure-eventhubs-spark v2.3.20) is a
Scala connector exposing Azure Event Hubs as a Spark source/sink. This
package re-expresses its semantics Spark-first over a file-backed
event hub (a parquet log behind ``format("eventhubs")``), plus the
LLM-data-pipeline operators (dedup, similarity search, multimodal columns, text
analysis) designed for 100 TB scale.

Layout:
    conf        EventHubsConf options model  (ref: eventhubs/EventHubsConf.scala)
    connstr     connection-string builder     (ref: eventhubs/ConnectionStringBuilder.scala)
    position    EventPosition                 (ref: eventhubs/EventPosition.scala)
    plans/      canonical hub view derivation (ref: sql/eventhubs/EventHubsSourceProvider.scala eventHubsSchema)
    sources/    format("eventhubs") DataSource: batch + stream reader and
                writer, position translation, read_eventhubs/write_eventhubs
    streaming/  rate limiting, slow-partition tracker, stateful operators
    operators/  dedup, similarity, text analysis, multimodal
    functions/  shared deterministic hashing / tokenization helpers
"""

# First, so every Spark worker that unpickles a connector object stops
# re-reading pyspark.zip's directory on each task (see _zipimport).
from spark_eventhubs_spark import _zipimport  # noqa: F401

__version__ = "0.1.0"

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.position import EventPosition

__all__ = [
    "EventHubsConf",
    "EventPosition",
    # lazy (PEP 562) — resolved on first touch so `import
    # spark_eventhubs_spark` stays light; these pull pyspark:
    "read_eventhubs",
    "write_eventhubs",
    "register_eventhubs",
    "materialize_hub",
    "build_session",
    "register_catalog",
    "file_hub_connection_string",
]

_LAZY = {
    "read_eventhubs": ("spark_eventhubs_spark.sources.datasource", "read_eventhubs"),
    "write_eventhubs": ("spark_eventhubs_spark.sources.datasource", "write_eventhubs"),
    "register_eventhubs": ("spark_eventhubs_spark.sources.datasource", "register_eventhubs"),
    "materialize_hub": ("spark_eventhubs_spark.sources.datasource", "materialize_hub"),
    "build_session": ("spark_eventhubs_spark.session", "build_session"),
    "register_catalog": ("spark_eventhubs_spark.sql", "register_catalog"),
    "file_hub_connection_string": ("spark_eventhubs_spark.connstr", "file_hub_connection_string"),
}


def __getattr__(name: str):
    try:
        mod_name, attr = _LAZY[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
