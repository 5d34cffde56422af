#!/usr/bin/env python3
"""Dump ``.explain("formatted")`` for batch catalog entries into text
files — the before/after plan evidence for optimization rounds.

Usage:
    python scripts/dump_plans.py <out_dir> <suffix> [entry ...]

Writes ``<out_dir>/<entry>_<suffix>.txt`` for each requested entry (all
batch entries when none are named). Streaming twins are skipped: their
callables DRAIN real micro-batch sequences; their per-trigger plans are
pinned by the stateful-streaming tests instead.

The session is bench.py's (``session.build_session``: local[cpus],
shuffle partitions = cpus, AQE on) so the dumped plans are the shapes
the bench actually runs, at $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans
    from spark_eventhubs_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = [n for n in qs if (not only or n in only)
             and not n.startswith("stream_")]
    missing = only - set(qs)
    if missing:
        print(f"unknown entries: {sorted(missing)}", file=sys.stderr)
        return 2
    clear_cached_plans(spark, "query")
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            jqe = df._jdf.queryExecution()
            jvm = spark._jvm
            text = jqe.explainString(
                jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — record, keep going
            text = f"ERROR building plan: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(text)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
