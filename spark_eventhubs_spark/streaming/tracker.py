"""Slow-partition performance tracker.

Port of ``PartitionsStatusTracker`` + ``BatchStatus`` + ``PartitionStatus``
(core/src/main/scala/org/apache/spark/eventhubs/PartitionsStatusTracker.scala),
with the reference's exact semantics:

- sliding window of the last ``TRACKING_BATCH_COUNT = 3`` batches
  (:240); adding batch N evicts batch N-3
- a batch has "enough updates" once >= ⌊partitionCount/2⌋+1 partitions
  reported (:256 enoughUpdatesCount)
- zero-size partitions count as already-updated (no metric message will
  arrive for them) with time-per-event 0 (:121-127, PartitionStatus init)
- performance percentages come from the LATEST batch with enough
  updates (:178-219): slow = timePerEvent > avg + stddev(population),
  and then percentage = avg / timePerEvent, else 1.0
- the outlier scan only runs if some partition exceeded
  ``acceptableBatchReceiveTimeInMs`` (:352-366), otherwise all 1.0
- metric messages for evicted/unknown (partition, requestSeqNo) pairs
  are ignored (:155-161)

This is planner state (plain Python). The reference's executors report
receive times to a driver RPC endpoint (PartitionPerformanceReceiver.scala);
here the ``format("eventhubs")`` stream reader's read tasks write them to
a receive log and ``latestOffset`` rebuilds the tracker from it
(sources/datasource.py ``_ReceiveLog``).
"""

from __future__ import annotations

import logging
import math
from typing import Dict, Optional

log = logging.getLogger(__name__)

TRACKING_BATCH_COUNT = 3
BATCH_NOT_FOUND = -1


class _PartitionStatus:
    __slots__ = ("partition_id", "request_seq_no", "empty_batch", "has_been_updated",
                 "performance_percentage", "batch_size", "batch_receive_time_ms",
                 "time_per_event_ms")

    def __init__(self, partition_id: int, request_seq_no: int, empty_batch: bool) -> None:
        self.partition_id = partition_id
        self.request_seq_no = request_seq_no
        self.empty_batch = empty_batch
        self.has_been_updated = empty_batch
        self.performance_percentage = 1.0
        self.batch_size = 0 if empty_batch else -1
        self.batch_receive_time_ms = 0 if empty_batch else -1
        self.time_per_event_ms = 0.0 if empty_batch else -1.0

    def update_metrics(self, batch_size: int, receive_time_ms: int) -> None:
        self.batch_size = batch_size
        self.batch_receive_time_ms = receive_time_ms
        self.has_been_updated = True
        if batch_size != 0:
            self.time_per_event_ms = receive_time_ms / batch_size

    def update_percentage(self, avg: float, stddev: float) -> None:
        if not self.empty_batch and self.has_been_updated:
            if self.time_per_event_ms > avg + stddev:
                self.performance_percentage = avg / self.time_per_event_ms


class _BatchStatus:
    def __init__(self, batch_id: int, partitions: Dict[int, _PartitionStatus],
                 tracker: "PartitionsStatusTracker") -> None:
        self.batch_id = batch_id
        self.partitions = partitions
        self._tracker = tracker
        self._has_enough_updates = False
        self._performance_percentages: Optional[Dict[int, float]] = None

    def update_partition(self, pid: int, batch_size: int, receive_time_ms: int) -> None:
        if pid not in self.partitions:
            raise RuntimeError(
                f"partition {pid} doesn't exist in batch status for batch {self.batch_id}"
            )
        self.partitions[pid].update_metrics(batch_size, receive_time_ms)

    @property
    def received_enough_updates(self) -> bool:
        if not self._has_enough_updates:
            n = sum(1 for p in self.partitions.values() if p.has_been_updated)
            self._has_enough_updates = n >= self._tracker.enough_updates_count
        return self._has_enough_updates

    def _all_within_acceptable_time(self) -> bool:
        times = [p.batch_receive_time_ms for p in self.partitions.values()
                 if p.has_been_updated and not p.empty_batch]
        if not times:
            return True
        return max(times) < self._tracker.acceptable_batch_receive_time_ms

    def performance_percentages(self) -> Optional[Dict[int, float]]:
        if self._performance_percentages is not None:
            return self._performance_percentages
        per_event = [p.time_per_event_ms for p in self.partitions.values()
                     if p.has_been_updated and not p.empty_batch]
        if not per_event:
            return None
        if self._all_within_acceptable_time():
            return self._tracker.default_percentages()
        avg = sum(per_event) / len(per_event)
        stddev = math.sqrt(
            sum((t - avg) ** 2 for t in per_event) / len(per_event)
        )
        for p in self.partitions.values():
            p.update_percentage(avg, stddev)
        ppp = {pid: p.performance_percentage for pid, p in self.partitions.items()}
        if sum(1 for p in self.partitions.values() if p.has_been_updated) == \
                self._tracker.partition_count:
            self._performance_percentages = ppp
        return ppp


class PartitionsStatusTracker:
    def __init__(
        self,
        partition_count: int,
        acceptable_batch_receive_time_ms: int = 30_000,
    ) -> None:
        self.partition_count = partition_count
        self.acceptable_batch_receive_time_ms = acceptable_batch_receive_time_ms
        self.enough_updates_count = (partition_count // 2) + 1
        self._batches: Dict[int, _BatchStatus] = {}
        self._pair_to_batch: Dict[tuple, int] = {}

    def default_percentages(self) -> Dict[int, float]:
        return {pid: 1.0 for pid in range(self.partition_count)}

    # ---- batch lifecycle ----
    def add_batch(self, batch_id: int, offset_ranges) -> None:
        """offset_ranges: iterable of the batch's PlannedRanges (uses
        partition_id, from_seq_no, until_seq_no)."""
        if batch_id in self._batches:
            log.error("batch %s already exists in tracker; batches are not updated",
                      batch_id)
            return
        evict = batch_id - TRACKING_BATCH_COUNT
        if evict >= 0:
            self._remove_batch(evict)
        partitions = {}
        for r in offset_ranges:
            empty = r.from_seq_no == r.until_seq_no
            partitions[r.partition_id] = _PartitionStatus(r.partition_id, r.from_seq_no, empty)
            if not empty:
                key = (r.partition_id, r.from_seq_no)
                if key in self._pair_to_batch:
                    raise RuntimeError(
                        f"partition-startSeqNo pair {key} already mapped to batch "
                        f"{self._pair_to_batch[key]}"
                    )
                self._pair_to_batch[key] = batch_id
        self._batches[batch_id] = _BatchStatus(batch_id, partitions, self)

    def _remove_batch(self, batch_id: int) -> None:
        batch = self._batches.pop(batch_id, None)
        if batch is None:
            return
        for p in batch.partitions.values():
            if not p.empty_batch:
                self._pair_to_batch.pop((p.partition_id, p.request_seq_no), None)

    # ---- metric ingestion (S23 RPC equivalent) ----
    def update_partition_performance(
        self, partition_id: int, request_seq_no: int, batch_size: int, receive_time_ms: int
    ) -> None:
        batch_id = self._pair_to_batch.get((partition_id, request_seq_no), BATCH_NOT_FOUND)
        if batch_id == BATCH_NOT_FOUND:
            log.info("no batch for pair (%s, %s); assuming stale metric, ignoring",
                     partition_id, request_seq_no)
            return
        if batch_id not in self._batches:
            raise RuntimeError(
                f"batch {batch_id} missing while pair mapping exists — tracker bug"
            )
        self._batches[batch_id].update_partition(partition_id, batch_size, receive_time_ms)

    # ---- query ----
    def partitions_performance_percentage(self) -> Optional[Dict[int, float]]:
        if not self._batches:
            return None
        candidates = [b for b in self._batches.values() if b.received_enough_updates]
        if not candidates:
            return None
        return max(candidates, key=lambda b: b.batch_id).performance_percentages()

    @property
    def batch_ids_in_tracker(self):
        return set(self._batches.keys())
