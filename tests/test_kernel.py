"""Unit tests for the pure-Python kernel: conf, position, offsets,
connection strings — modeled on the reference's unit tier
(EventHubsConfSuite, EventPositionSuite, JsonUtilsSuite,
ConnectionStringBuilderSuite; SURVEY §5 tier 2)."""

from datetime import datetime, timezone

import pytest

from spark_eventhubs_spark.conf import (
    DEFAULT_CONSUMER_GROUP,
    EventHubsConf,
    MAX_EVENTS_PER_TRIGGER_KEY,
)
from spark_eventhubs_spark.connstr import ConnectionStringBuilder, file_hub_connection_string
from spark_eventhubs_spark.offsets import EventHubsSourceOffset, NameAndPartition, OffsetRange
from spark_eventhubs_spark.position import EventPosition


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


def test_conf_trimmed_strips_driver_only_keys():
    conf = EventHubsConf(file_hub_connection_string("/tmp/x"))
    conf.set_starting_position(EventPosition.from_start_of_stream())
    conf.set_max_events_per_trigger(123)
    t = conf.trimmed()
    assert MAX_EVENTS_PER_TRIGGER_KEY not in t
    assert "eventhubs.startingPosition" not in t
    assert t.connection_string == conf.connection_string


def test_conf_clone_independent():
    conf = EventHubsConf(file_hub_connection_string("/tmp/x"))
    c2 = conf.clone().set_consumer_group("other")
    assert conf.consumer_group == DEFAULT_CONSUMER_GROUP
    assert c2.consumer_group == "other"


def test_conf_validate_requires_connection_string():
    with pytest.raises(ValueError):
        EventHubsConf().validate()


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


# ---- OffsetRange (ref OffsetRangeSuite.scala:23) ----

def test_offset_range_count_and_validation():
    nap = NameAndPartition("eh", 0)
    r = OffsetRange(nap, 10, 25)
    assert r.count == 15
    assert "fromSeqNo: 10" in str(r)
    with pytest.raises(ValueError):
        OffsetRange(nap, 5, 4)


# ---- offset JSON + metadata log (ref JsonUtilsSuite.scala:26-43,
#      EventHubsSourceSuite.scala:128-187) ----

def test_source_offset_json_wire_format():
    off = EventHubsSourceOffset(
        {NameAndPartition("eh", 0): 23, NameAndPartition("eh", 1): 45}
    )
    assert off.json() == '{"eh":{"0":23,"1":45}}'
    assert EventHubsSourceOffset.from_json(off.json()) == off


def test_metadata_log_v1_and_legacy_and_future():
    off = EventHubsSourceOffset({NameAndPartition("eh", 0): 7})
    content = off.serialize_metadata()
    assert content.startswith("v1\n")
    assert EventHubsSourceOffset.deserialize_metadata(content) == off
    # legacy: raw JSON without version header still parses
    assert EventHubsSourceOffset.deserialize_metadata(off.json()) == off
    # future versions rejected
    with pytest.raises(ValueError):
        EventHubsSourceOffset.deserialize_metadata("v99999\n{}")
    with pytest.raises(ValueError):
        EventHubsSourceOffset.deserialize_metadata("")


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
