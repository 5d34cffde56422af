#!/usr/bin/env python3
"""Build the bucketed co-purchase edge artifact from a replica dir and
print its layout fingerprint (n_files / bytes / sizes_md5 over the
sorted part-file size multiset — same scheme as
scale_stepup.layout_fingerprint). Used to prove that two
independently built replicas produce byte-identical derived artifacts
(DETERMINISM_r11.json artifact_match).

Usage: python scripts/artifact_fingerprint.py <sf_dir>
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    from spark_eventhubs_spark.bucketing import ensure_copurchase_edges
    from spark_eventhubs_spark.session import build_session

    spark = build_session("artifact-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    loc = tempfile.mkdtemp(prefix="artifact_fp_")
    try:
        ensure_copurchase_edges(spark, sf_dir, location=loc)
        sizes = sorted(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(loc)
            for f in files
            if f.startswith("part-")
        )
        print(json.dumps({
            "sf_dir": sf_dir,
            "n_files": len(sizes),
            "bytes": sum(sizes),
            "sizes_md5": hashlib.md5(repr(sizes).encode()).hexdigest()[:12],
        }))
    finally:
        spark.stop()
        shutil.rmtree(loc, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
