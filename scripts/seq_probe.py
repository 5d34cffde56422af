#!/usr/bin/env python3
"""Time `_seq_at_time` (time->seqNo position translation, S17/S18) on
an sf1-scale hub backlog — round-7 verdict item 2's Done evidence.

Builds a k-fold events replica (default 10x sf0.1 = 1M events, the sf1
backlog), materializes the hub log, then times the stats-first probe
against the pre-round-8 per-row driver loop at three positions:

- t = stream start (worst case for the old path: every row past t is
  iterated in driver Python; best case for the new: footers only),
- t = median enqueuedTime (half the backlog past t),
- t = past-end (both resolve from footer max alone).

Prints one JSON line; cleans up its workdir.

Usage: python scripts/seq_probe.py [k] [out_json]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _old_seq_at_time(hub_dir, pid, t_us, latest):
    """The pre-round-8 implementation, verbatim semantics: row groups
    pruned by max(enqueuedTime) stat, then every surviving row
    iterated per-value in driver Python. Kept here only as the timing
    baseline."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources.datasource import (
        _parquet_files,
        _partition_dirs,
        _rg_stats,
        _stat_us,
    )

    d = _partition_dirs(hub_dir).get(pid)
    if d is None:
        return latest
    best = None
    for f in _parquet_files(d):
        keep = []
        for i, n, _, mx in _rg_stats(f, "enqueuedTime"):
            if n == 0 or mx is None:
                continue
            if _stat_us(mx) >= t_us:
                keep.append(i)
        if not keep:
            continue
        pf = papq.ParquetFile(f)
        tbl = pf.read_row_groups(keep, columns=["sequenceNumber", "enqueuedTime"])
        enq = tbl.column("enqueuedTime").cast(pa.timestamp("us", tz="UTC"))
        seqs = tbl.column("sequenceNumber")
        for batch_seq, batch_enq in zip(seqs.chunks, enq.chunks):
            for s, e in zip(batch_seq, batch_enq):
                if e.value >= t_us:
                    v = s.as_py()
                    best = v if best is None else min(best, v)
    return best if best is not None else latest


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    from spark_eventhubs_spark.session import build_session
    from spark_eventhubs_spark.sources import datasource as ds

    work = tempfile.mkdtemp(prefix="seqprobe_")
    spark = build_session("seq-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
        shift = ev.agg(F.max("event_id")).first()[0] + 1
        copies = ev
        for i in range(1, k):
            copies = copies.unionAll(
                ev.withColumn("event_id", F.col("event_id") + F.lit(i * shift))
            )
        src = os.path.join(work, "events.parquet")
        copies.write.mode("overwrite").parquet(src)
        hub = ds.materialize_hub(spark, src, os.path.join(work, "hub"))
        bounds = ds.hub_bounds(hub)
        pid = sorted(bounds)[0]
        lo, hi = bounds[pid]
        n_rows = sum(h - l for l, h in bounds.values())

        import pyarrow.dataset as pads

        enq = (
            pads.dataset(os.path.join(hub, f"partition={pid}"))
            .to_table(columns=["enqueuedTime"])
            .column("enqueuedTime")
        )
        import pyarrow as pa

        vals = sorted(
            v.value for v in enq.cast(pa.timestamp("us", tz="UTC"))
        )
        probes = {
            "start": vals[0],
            "median": vals[len(vals) // 2],
            "past_end": vals[-1] + 1,
        }
        rec = {"metric": "seq_at_time_probe", "k": k, "events": n_rows,
               "partition_rows": len(vals), "unit": "sec", "probes": {}}
        for name, t_us in probes.items():
            # warm footers once so both variants time compute, not I/O
            ds._seq_at_time(hub, pid, t_us, hi)
            t0 = time.perf_counter()
            new_v = ds._seq_at_time(hub, pid, t_us, hi)
            t_new = time.perf_counter() - t0
            t0 = time.perf_counter()
            old_v = _old_seq_at_time(hub, pid, t_us, hi)
            t_old = time.perf_counter() - t0
            assert new_v == old_v, (name, new_v, old_v)
            rec["probes"][name] = {
                "new_s": round(t_new, 6),
                "old_s": round(t_old, 6),
                "speedup": round(t_old / t_new, 1) if t_new > 0 else None,
                "seq": new_v,
            }
        line = json.dumps(rec)
        print(line)
        if out_json:
            with open(out_json, "w") as fh:
                fh.write(line + "\n")
        return 0
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
