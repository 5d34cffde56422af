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

import pyarrow as pa
import pyarrow.parquet as papq


class EventHubsForeachWriter:
    """PySpark ForeachWriter protocol (open/process/close).

    Rows may be bare strings (the reference is ``ForeachWriter[String]``,
    round-robin routed) or Rows with body [, partition | partitionKey
    [, properties]] columns.
    """

    def __init__(self, hub_dir: str) -> None:
        self.hub_dir = hub_dir
        self._rows: Optional[List[tuple]] = None
        self._pid = 0
        self._epoch = 0

    # -- ForeachWriter protocol --
    def open(self, partition_id: int, epoch_id: int) -> bool:
        self._rows = []
        self._pid = partition_id
        self._epoch = epoch_id
        return True

    def process(self, row) -> None:
        if isinstance(row, str):
            body, part, key, props = row.encode("utf-8"), None, None, None
        else:
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            body = d["body"]
            if isinstance(body, str):
                body = body.encode("utf-8")
            part = d.get("partition") or d.get("partitionId")
            key = d.get("partitionKey")
            if part is not None and key is not None:
                raise ValueError(
                    "both partition and partitionKey are set; they are "
                    "mutually exclusive"
                )
            props = d.get("properties")
        assert self._rows is not None, "process() before open()"
        self._rows.append(
            (bytes(body), part, key, list(props.items()) if props else [])
        )

    def close(self, error) -> None:
        rows, self._rows = self._rows, None
        if error is not None or not rows:
            return
        tbl = pa.table(
            {
                "body": pa.array([r[0] for r in rows], pa.binary()),
                "partition": pa.array([r[1] for r in rows], pa.string()),
                "partitionKey": pa.array([r[2] for r in rows], pa.string()),
                "properties": pa.array(
                    [r[3] for r in rows], pa.map_(pa.string(), pa.string())
                ),
            }
        )
        staging = os.path.join(self.hub_dir, "_staging")
        os.makedirs(staging, exist_ok=True)
        papq.write_table(
            tbl,
            os.path.join(
                staging,
                f"foreach-{self._epoch:010d}-{self._pid:05d}-{os.getpid()}.parquet",
            ),
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
