"""ForeachWriter sink — ``df.writeStream.foreach(EventHubsForeachWriter(...))``.

Port of ``EventHubsForeachWriter``
(core/src/main/scala/org/apache/spark/sql/eventhubs/EventHubsForeachWriter.scala:41-99):
a per-task open/process/close writer that sends string bodies to the
hub. The reference sends each row over AMQP and lets the service
assign sequence numbers on arrival; here each task stages its rows as
a parquet file in ``<hub>/_staging`` during ``close()``, and
:func:`flush_foreach_staged` performs the broker's seqNo assignment
(shared with the DataSource write path). Delivery is at-least-once,
same as the reference (docs/structured-streaming-eventhubs-integration.md:278-283).

Usage::

    w = EventHubsForeachWriter(hub_dir)
    q = df.select("body").writeStream.foreach(w).start()
    ...
    q.stop(); flush_foreach_staged(hub_dir)   # or on a schedule
"""

from __future__ import annotations

import os
import time
from typing import List, Optional


class EventHubsForeachWriter:
    """PySpark ForeachWriter protocol (open/process/close).

    Rows may be bare strings (the reference is ``ForeachWriter[String]``,
    round-robin routed) or Rows with body [, partition | partitionKey
    [, properties]] columns.
    """

    def __init__(self, hub_dir: str) -> None:
        self.hub_dir = hub_dir
        self._rows: Optional[List[dict]] = None
        self._pid = 0
        self._epoch = 0

    # -- ForeachWriter protocol --
    def open(self, partition_id: int, epoch_id: int) -> bool:
        self._rows = []
        self._pid = partition_id
        self._epoch = epoch_id
        return True

    def process(self, row) -> None:
        assert self._rows is not None, "process() before open()"
        if isinstance(row, str):
            row = {"body": row}
        self._rows.append(row.asDict() if hasattr(row, "asDict") else dict(row))

    def close(self, error) -> None:
        """Stage the task's rows with the DataSource writer's rules
        (:func:`~spark_eventhubs_spark.sources.datasource.stage_rows`),
        which refuse a null or non-string/bytes body with a ValueError."""
        from spark_eventhubs_spark.sources.datasource import stage_rows, write_columns

        rows, self._rows = self._rows, None
        if error is not None or not rows:
            return
        stage_rows(
            self.hub_dir,
            f"foreach-{self._epoch:010d}-{self._pid:05d}-{os.getpid()}.parquet",
            rows,
            write_columns(rows[0]),
        )


def flush_foreach_staged(hub_dir: str, partition_count: Optional[int] = None) -> int:
    """Commit all staged foreach files into the hub log (dense per-
    partition seqNos, one appended file per partition). Returns the
    number of events committed."""
    from spark_eventhubs_spark.sources.datasource import commit_staged_paths

    staging = os.path.join(hub_dir, "_staging")
    if not os.path.isdir(staging):
        return 0
    paths = sorted(
        os.path.join(staging, f)
        for f in os.listdir(staging)
        if f.startswith("foreach-") and f.endswith(".parquet")
    )
    if not paths:
        return 0
    tag = f"f{int(time.time() * 1000):013d}"
    return commit_staged_paths(hub_dir, paths, tag, partition_count)
