"""Tests for bench.py and the bench tooling under scripts/.

The ratios-section classifier must not mask a streaming scale
regression behind the backlog-proportional shortcut; the replica
builder must be deterministic enough that two independently built
replicas carry the same layout fingerprint; and bench.py's cells must
each carry their probe figures, with a raising cell named under
failures while the rest are still timed.
"""

import importlib.util
import pathlib

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _load(name, where=ROOT / "scripts"):
    spec = importlib.util.spec_from_file_location(name, where / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_classify_streaming_superlinear_not_masked():
    """ADVICE r9: a stream_ entry whose ratio exceeds the data factor
    beyond replay slack must surface as superlinear, not be shortcut
    to backlog-proportional."""
    br = _load("bench_ratio")
    # replaying a 10x backlog at ~10x cost is the expected shape
    assert br.classify("stream_scd2", 9.0, 10.0) == "backlog-proportional"
    assert br.classify("stream_scd2", 14.0, 10.0) == "backlog-proportional"
    # 3x beyond the data factor is a real regression
    assert br.classify("stream_scd2", 30.0, 10.0) == "superlinear"
    # unknown factor: can't adjudicate, keep the honest default
    assert br.classify("stream_scd2", 30.0, None) == "backlog-proportional"
    # non-stream behavior unchanged
    assert br.classify("hub_take", 30.0, 10.0) == "superlinear"
    assert br.classify("hub_asof_join", 9.0, 10.0) == "output-bound"
    assert br.classify("q1_pricing_summary", 2.0, 10.0) == "at-or-below-linear"


def test_replica_build_is_deterministic(spark, tmp_path):
    """Round-9 verdict item 4: two independently built replicas of the
    same (source, k) must produce the same file counts and
    byte-identical part files — proven by the stamped layout
    fingerprint, which hashes per-table sorted file sizes."""
    import hashlib
    import json

    br = _load("build_replica")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    br.build_upsampled(spark, 2, a, SF_DIR)
    br.build_upsampled(spark, 2, b, SF_DIR)
    fa = json.load(open(f"{a}/_layout.json"))
    fb = json.load(open(f"{b}/_layout.json"))
    assert fa["fingerprint"] == fb["fingerprint"]
    assert fa["k"] == 2
    # replicated content, not just metadata parity
    n = spark.read.parquet(f"{a}/lineitem.parquet").count()
    assert n == 2 * spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # the fingerprint must actually react to a layout change
    fb["tables"]["lineitem"]["n_files"] += 1
    assert fa["fingerprint"] != hashlib.md5(
        repr(sorted(fb["tables"].items())).encode()
    ).hexdigest()[:16]


def _raising_entry(spark, sf_dir):
    raise RuntimeError("this cell fails\nsecond line")


def test_bench_cells_carry_probe_figures_and_name_failures(spark):
    bench = _load("bench", ROOT)
    names = ["q3_shipping_priority", "stream_running_counters",
             "test_bench_tools:_raising_entry"]
    cells, failures = bench.time_cells(spark, names, SF_DIR, reps=1)
    assert failures == {"test_bench_tools:_raising_entry": "this cell fails"}
    assert list(cells) == names[:2]
    for c in cells.values():
        assert c["median"] > 0 and c["q1"] <= c["median"] <= c["q3"]
        assert len(c["samples"]) == 1 and c["rows"] > 0
        assert set(c["plan"]) == {"shuffle_stages", "reused", "scans", "py_eval"}
        assert len(c["artifact_builds"]) == 2
    assert cells["q3_shipping_priority"]["stream"] is None
    assert cells["stream_running_counters"]["stream"]["triggers"] > 1
    assert not spark.streams.active
