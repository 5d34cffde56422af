"""scripts/probe.py: one rep of a batch entry and of a streaming twin on
the test session, interleaved, with the plan and trigger figures."""

import importlib.util
import pathlib

from conftest import SF_DIR

_spec = importlib.util.spec_from_file_location(
    "probe", pathlib.Path(__file__).resolve().parent.parent / "scripts" / "probe.py"
)
probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe)


def test_probe_records_plan_and_trigger_figures(spark):
    batch, stream = probe.run(
        spark, ["q3_shipping_priority", "stream_running_counters"], SF_DIR, reps=1
    )
    for rec in (batch, stream):
        assert rec["action"] == "collect" and rec["rows"] > 0
        assert len(rec["samples"]) == 1
        assert rec["q1"] == rec["median"] == rec["q3"] == rec["samples"][0] > 0
        assert set(rec["plan"]) == {"shuffle_stages", "reused", "scans", "py_eval"}
        # [warm-up, timed] ingest-artifact builds: the warm-up pays them,
        # the timed rep finds them in the session cache
        assert rec["artifact_builds"][1] == 0
    assert batch["target"] == "q3_shipping_priority"
    assert batch["plan"]["scans"] >= 3  # customer, orders, lineitem
    assert batch["stream"] is None
    # the twin drains a throttled backlog over several real triggers
    assert stream["stream"]["triggers"] > 1
    phases = stream["stream"]["phases_ms"]
    assert {"addBatch", "latestOffset", "queryPlanning", "walCommit",
            "commitOffsets", "triggerExecution"} <= set(phases)
    assert phases["triggerExecution"] >= phases["addBatch"] > 0
    assert not spark.streams.active


def test_probe_resolves_module_function_targets():
    fn = probe.resolve("spark_eventhubs_spark.queries:q3_shipping_priority")
    assert fn is probe.resolve("q3_shipping_priority")
