from spark_eventhubs_spark.sources.datasource import (
    read_eventhubs,
    register_eventhubs,
    write_eventhubs,
)

__all__ = ["read_eventhubs", "write_eventhubs", "register_eventhubs"]
