"""Unit tests for the pure-Python kernel: conf, position, connection
strings — modeled on the reference's unit tier (EventHubsConfSuite,
EventPositionSuite, ConnectionStringBuilderSuite; SURVEY §5 tier 2)."""

import json
from datetime import datetime, timezone

import pytest

from spark_eventhubs_spark.conf import DEFAULT_CONSUMER_GROUP, EventHubsConf
from spark_eventhubs_spark.connstr import ConnectionStringBuilder, file_hub_connection_string
from spark_eventhubs_spark.position import EventPosition
from spark_eventhubs_spark.sources.datasource import EventHubsStreamReader, _hub_dir_from_options


# ---- EventHubsConf (ref EventHubsConfSuite.scala:66-408) ----

def test_conf_case_insensitive_and_roundtrip():
    conf = EventHubsConf(file_hub_connection_string("/tmp/x"))
    conf.set("EventHubs.ConsumerGroup", "cg1")
    assert conf.get("eventhubs.consumergroup") == "cg1"
    assert conf.consumer_group == "cg1"
    assert "eventhubs.CONSUMERGROUP" in conf


def test_conf_defaults():
    conf = EventHubsConf(file_hub_connection_string("/tmp/x"))
    assert conf.consumer_group == DEFAULT_CONSUMER_GROUP
    assert conf.partition_count == 4
    # unset maxEventsPerTrigger = no cap (the reference defaults to
    # partitionCount * 1000, EventHubsSource.scala:91-96)
    assert conf.max_events_per_trigger() is None
    assert conf.max_rate_per_partition_for(0) == 1000


def test_conf_per_partition_overrides_global():
    conf = EventHubsConf(file_hub_connection_string("/tmp/x"))
    conf.set_starting_position(EventPosition.from_sequence_number(5, is_inclusive=True))
    conf.set_starting_positions({1: EventPosition.from_sequence_number(9, is_inclusive=True)})
    assert conf.starting_position_for(0).seq_no == 5
    assert conf.starting_position_for(1).seq_no == 9
    conf.set_max_rate_per_partition(100)
    conf.set_max_rates_per_partition({2: 7})
    assert conf.max_rate_per_partition_for(0) == 100
    assert conf.max_rate_per_partition_for(2) == 7


def test_conf_validate_requires_connection_string():
    # the reader and writer refuse options naming no hub
    with pytest.raises(ValueError, match="connectionString"):
        _hub_dir_from_options({})


# ---- EventPosition (ref EventPositionSuite.scala:26-55) ----

def test_position_sentinels():
    assert EventPosition.from_start_of_stream().is_start_of_stream
    assert EventPosition.from_end_of_stream().is_end_of_stream
    assert not EventPosition.from_sequence_number(3).is_start_of_stream


def test_position_json_roundtrip():
    for p in [
        EventPosition.from_sequence_number(42, is_inclusive=True),
        EventPosition.from_offset("1234"),
        EventPosition.from_enqueued_time(datetime(2024, 1, 2, tzinfo=timezone.utc)),
        EventPosition.from_start_of_stream(),
        EventPosition.from_end_of_stream(),
    ]:
        assert EventPosition.from_json(p.to_json()) == p


def test_position_negative_seqno_rejected():
    with pytest.raises(ValueError):
        EventPosition.from_sequence_number(-2)


# ---- offset JSON (ref JsonUtilsSuite.scala:26-43) ----

def test_source_offset_json_wire_format():
    # the stream reader's offsets are the reference's {"ehName": {"<pid>":
    # seqNo}} JSON, which Spark writes to the checkpoint offset log
    reader = EventHubsStreamReader({"path": "/tmp/hubs/eh"})
    off = reader._pack({1: 45, 0: 23})
    assert json.dumps(off) == '{"eh": {"0": 23, "1": 45}}'
    assert reader._unpack(json.loads(json.dumps(off))) == {0: 23, 1: 45}


# ---- ConnectionStringBuilder (ref ConnectionStringBuilderSuite.scala:41-104) ----

def test_connstr_parse_build_roundtrip():
    cs = ("Endpoint=sb://ns.servicebus.windows.net/;EntityPath=name;"
          "SharedAccessKeyName=keyName;SharedAccessKey=key")
    b = ConnectionStringBuilder.parse(cs)
    assert b.endpoint == "sb://ns.servicebus.windows.net/"
    assert b.entity_path == "name"
    assert b.sas_key_name == "keyName"
    assert ConnectionStringBuilder.parse(b.build()).build() == b.build()


def test_file_hub_connection_string():
    cs = file_hub_connection_string("/root/testdata/sf0.001", "events")
    b = ConnectionStringBuilder.parse(cs)
    assert b.endpoint == "file:///root/testdata/sf0.001"
    assert b.entity_path == "events"
