"""Proportional, performance-weighted rate limiting.

Port of the reference's ``rateLimit``
(core/src/main/scala/org/apache/spark/sql/eventhubs/EventHubsSource.scala:263-319)
with the exact rounding/starvation semantics the reference's tests pin
(EventHubsSourceSuite.scala:331-393):

- backlog size per partition = until - begin (only positive sizes count)
- if the total backlog < 1, pass ``until`` through (no limiting)
- prorated quota = limit * (size / total) * performanceFactor
- small partitions are never starved: quotas < 1 are ceil'd, all
  others floor'd
- the resulting offset is clamped to ``until``

Pure dict math on the driver — there is deliberately no Spark job here;
this is admission control that happens before a plan exists (SURVEY
§4.1). Keys are partition ids (int); the reference's NameAndPartition
wrapper is only needed with multiple hubs, which the stream reader
handles by keeping one reader per hub.
"""

from __future__ import annotations

import math
from typing import Dict, Mapping, Optional


def rate_limit(
    limit: int,
    from_seq_nos: Mapping[int, int],
    until_seq_nos: Mapping[int, int],
    from_new: Mapping[int, int],
    performance_factors: Optional[Mapping[int, float]] = None,
) -> Dict[int, int]:
    """Split ``limit`` events across partitions proportionally to their
    backlog, weighted by per-partition performance factors in [0, 1].

    ``from_new`` supplies begin positions for partitions absent from
    ``from_seq_nos`` (fresh partitions after dynamic discovery —
    EventHubsSource.scala:283-286).
    """
    sizes: Dict[int, int] = {}
    for pid, end in until_seq_nos.items():
        begin = from_seq_nos.get(pid, from_new.get(pid))
        if begin is None:
            continue  # let getBatch's alert logic handle it (ref :283)
        size = end - begin
        if size > 0:
            sizes[pid] = size

    total = float(sum(sizes.values()))
    if total < 1:
        return dict(until_seq_nos)

    result: Dict[int, int] = {}
    for pid, end in until_seq_nos.items():
        if pid not in sizes:
            result[pid] = end
            continue
        begin = from_seq_nos[pid] if pid in from_seq_nos else from_new[pid]
        factor = 1.0
        if performance_factors is not None:
            factor = performance_factors.get(pid, 1.0)
        prorate = limit * (sizes[pid] / total) * factor
        # Don't completely starve small partitions (ref :311-312)
        off = begin + (math.ceil(prorate) if prorate < 1 else math.floor(prorate))
        # Paranoia: never pass the end (ref :314)
        result[pid] = min(end, int(off))
    return result
