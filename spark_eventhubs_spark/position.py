"""EventPosition — a point in one event-hub partition.

Re-implements the semantics of the reference's
``core/src/main/scala/org/apache/spark/eventhubs/EventPosition.scala:31-118``:
a position addressed by byte offset, sequence number, or enqueued time,
with distinguished start-of-stream (``"-1"``) / end-of-stream
(``"@latest"``) sentinels (``eventhubs/package.scala:34-35``).

Resolution of a position to a concrete per-partition sequence number is
the planner's job (`sources.datasource._resolve_positions`), matching
``eventhubs/client/EventHubsClient.scala:264-353``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Optional

# Sentinels — ref eventhubs/package.scala:34-35
START_OF_STREAM = "-1"
END_OF_STREAM = "@latest"

# ref eventhubs/EventPosition.scala:104-108 (DefaultEnqueuedTime = Instant.EPOCH)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


@dataclass(frozen=True)
class EventPosition:
    """One of offset / seqNo / enqueuedTime must be set.

    ``offset`` is a string because the service's offsets are opaque
    strings; the sentinels ``"-1"`` / ``"@latest"`` ride in the offset
    field exactly as the reference does
    (``EventPosition.scala:95-118``).
    """

    offset: Optional[str] = None
    seq_no: Optional[int] = None
    enqueued_time: Optional[datetime] = None
    is_inclusive: bool = True

    # --- constructors mirroring the reference's companion object ---
    @staticmethod
    def from_offset(offset: str, is_inclusive: bool = False) -> "EventPosition":
        return EventPosition(offset=str(offset), is_inclusive=is_inclusive)

    @staticmethod
    def from_sequence_number(seq_no: int, is_inclusive: bool = False) -> "EventPosition":
        if seq_no < 0:
            raise ValueError(f"seq_no must be >= 0, got {seq_no}")
        return EventPosition(seq_no=int(seq_no), is_inclusive=is_inclusive)

    @staticmethod
    def from_enqueued_time(enqueued_time: datetime) -> "EventPosition":
        return EventPosition(enqueued_time=enqueued_time)

    @staticmethod
    def from_start_of_stream() -> "EventPosition":
        return EventPosition(offset=START_OF_STREAM, is_inclusive=True)

    @staticmethod
    def from_end_of_stream() -> "EventPosition":
        return EventPosition(offset=END_OF_STREAM, is_inclusive=False)

    # --- predicates ---
    @property
    def is_start_of_stream(self) -> bool:
        return self.offset == START_OF_STREAM

    @property
    def is_end_of_stream(self) -> bool:
        return self.offset == END_OF_STREAM

    # --- JSON codec (conf values are JSON strings, as in the PySpark
    # docs of the reference: docs/PySpark/structured-streaming-pyspark.md:52-120)
    def to_json(self) -> str:
        d: dict = {"isInclusive": self.is_inclusive}
        if self.offset is not None:
            d["offset"] = self.offset
        if self.seq_no is not None:
            d["seqNo"] = self.seq_no
        if self.enqueued_time is not None:
            t = self.enqueued_time
            if t.tzinfo is None:
                t = t.replace(tzinfo=timezone.utc)
            d["enqueuedTime"] = t.isoformat()
        return json.dumps(d, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "EventPosition":
        d = json.loads(s)
        t = None
        if d.get("enqueuedTime") is not None:
            t = datetime.fromisoformat(d["enqueuedTime"])
            if t.tzinfo is None:
                t = t.replace(tzinfo=timezone.utc)
        return EventPosition(
            offset=d.get("offset"),
            seq_no=d.get("seqNo"),
            enqueued_time=t,
            is_inclusive=bool(d.get("isInclusive", True)),
        )
