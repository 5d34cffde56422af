"""Pure helpers: percentiles and exactly-once accounting.

No Spark here, so the unit tests in ``test_perfbench.py`` run in
milliseconds.
"""

from __future__ import annotations

import json
from collections import Counter
from typing import Dict, Iterable, Optional, Sequence, Tuple

PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99)


def tail_percentile(n: int, candidates: Sequence[float] = PERCENTILES) -> Optional[float]:
    """Highest candidate percentile with at least 10 samples beyond it,
    or None when even the lowest candidate lacks them."""
    best = None
    for p in sorted(candidates):
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def weighted_percentile(pairs: Sequence[Tuple[int, float]], p: float) -> float:
    """Percentile of a sample given as (count, value) pairs: the value
    of the first pair whose cumulative count reaches p% of the total
    (nearest rank)."""
    ordered = sorted((v, c) for c, v in pairs if c > 0)
    total = sum(c for _, c in ordered)
    if total == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-total * p // 100))
    seen = 0
    for v, c in ordered:
        seen += c
        if seen >= rank:
            return v
    return ordered[-1][0]


# ---------------------------------------------------------------------------
# backlog_drain: every event read exactly once
# ---------------------------------------------------------------------------

def _offsets(raw) -> Dict[int, int]:
    """A source offset as the engine reports it (JSON text or dict,
    ``{"<hub>": {"<pid>": seqNo}}``) -> {pid: seqNo}."""
    if raw is None:
        return {}
    if isinstance(raw, str):
        raw = json.loads(raw)
    (_, inner), = raw.items()
    return {int(p): int(s) for p, s in inner.items()}


def drain_accounting(
    batches: Iterable[Tuple[object, object, int]], expected: Dict[int, int]
) -> Tuple[int, int]:
    """Check one closed drain from its triggers' (startOffset, endOffset,
    numInputRows). The backlog of partition p is seqNos [0, expected[p]).

    An event counts as failed when it is not read exactly once: ranges
    must chain from 0 with no gap or overlap, end at the backlog's end,
    and each trigger's row count must equal the width of its ranges.
    Returns (attempted, failed) in events."""
    attempted = sum(expected.values())
    pos = {pid: 0 for pid in expected}
    failed = 0
    for start_raw, end_raw, rows in batches:
        start, end = _offsets(start_raw), _offsets(end_raw)
        width = 0
        for pid, e in end.items():
            s = start.get(pid, 0)
            if e <= s:
                continue
            width += e - s
            if pid not in pos:
                failed += e - s  # events from a partition never seeded
                continue
            if s > pos[pid]:
                failed += s - pos[pid]  # gap: skipped events
            elif s < pos[pid]:
                failed += min(pos[pid], e) - s  # overlap: re-read events
            pos[pid] = max(pos[pid], e)
        failed += abs(int(rows) - width)
    for pid, n in expected.items():
        failed += abs(n - pos[pid])
    return attempted, min(failed, attempted)


# ---------------------------------------------------------------------------
# live_relay: every (source partition, seqNo) exactly once in hub B
# ---------------------------------------------------------------------------

def relay_accounting(
    observed: Iterable[Tuple[int, int, float]], expected: Dict[int, int]
) -> Tuple[int, int, Dict[Tuple[int, int], float]]:
    """``observed`` holds (source partition, source seqNo, latency ms) for
    every event found in the sink hub; partition p was sent seqNos
    [0, expected[p]). An event fails when it is lost, delivered more
    than once, or was never sent. Returns (attempted, failed, latency
    by (partition, seqNo) of the events delivered exactly once)."""
    counts: Counter = Counter()
    first: Dict[Tuple[int, int], float] = {}
    for pid, seq, lat in observed:
        key = (int(pid), int(seq))
        counts[key] += 1
        first.setdefault(key, float(lat))
    attempted = sum(expected.values())
    sent = {k for k in counts if 0 <= k[1] < expected.get(k[0], 0)}
    once = {k: first[k] for k in sent if counts[k] == 1}
    spurious = len(counts) - len(sent)
    duplicated = len(sent) - len(once)
    lost = attempted - len(sent)
    return attempted, lost + duplicated + spurious, once
