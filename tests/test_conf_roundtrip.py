"""Conf-map compatibility with the reference's serialized form.

The reference round-trips the WHOLE conf map through toMap/apply
(EventHubsConf.scala:101-104, 697-722) and ships a trimmed include-list
to executors (EventHubsConf.scala:163-191). These tests enumerate every
documented reference key and pin: round-trip stability, case
insensitivity under the reference's own canonical casings (including
the odd ones — ``eventhubs.AadAuthCallbackParams``,
``eventhubs.DynamicPartitionDiscovery``), the maxEventsPerTrigger
bare-key/alias precedence, the executor include-list, and the AAD
validation rules (docs/use-aad-authentication-to-connect-eventhubs.md).
No Spark session needed — pure-Python kernel tier (SURVEY §5 tier 2).
"""

import json

import pytest

from spark_eventhubs_spark import conf as C
from spark_eventhubs_spark.conf import EventHubsConf, REFERENCE_OPTION_KEYS
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.position import EventPosition

CONN = file_hub_connection_string("/tmp/hub", "events")

# one representative value per reference key, shaped like the values the
# reference's PySpark docs put in the map
# (docs/PySpark/structured-streaming-pyspark.md:52-120)
SAMPLE_VALUES = {
    C.CONNECTION_STRING_KEY: CONN,
    C.CONSUMER_GROUP_KEY: "$Default",
    C.STARTING_POSITION_KEY: EventPosition.from_start_of_stream().to_json(),
    C.STARTING_POSITIONS_KEY: json.dumps(
        {"0": json.loads(EventPosition.from_sequence_number(7, True).to_json())}
    ),
    C.ENDING_POSITION_KEY: EventPosition.from_end_of_stream().to_json(),
    C.ENDING_POSITIONS_KEY: json.dumps(
        {"1": json.loads(EventPosition.from_sequence_number(9, True).to_json())}
    ),
    C.MAX_RATE_PER_PARTITION_KEY: "1000",
    C.MAX_RATES_PER_PARTITION_KEY: json.dumps({"0": 5, "1": 10}),
    C.RECEIVER_TIMEOUT_KEY: "60000",
    C.MAX_SILENT_TIME_KEY: "120000",
    C.OPERATION_TIMEOUT_KEY: "300000",
    C.PREFETCH_COUNT_KEY: "500",
    C.THREAD_POOL_SIZE_KEY: "16",
    C.USE_EXCLUSIVE_RECEIVER_KEY: "true",
    C.MAX_EVENTS_PER_TRIGGER_KEY: "5000",
    C.MAX_EVENTS_PER_TRIGGER_ALIAS_KEY: "6000",
    C.USE_SIMULATED_CLIENT_KEY: "true",
    C.METRIC_PLUGIN_KEY: "org.example.MyMetricPlugin",
    C.PARTITION_PREFERRED_LOCATION_STRATEGY_KEY: "BalancedHash",
    C.SLOW_PARTITION_ADJUSTMENT_KEY: "true",
    C.THROTTLING_STATUS_PLUGIN_KEY: "org.example.MyThrottlingPlugin",
    C.MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY: "30000",
    C.USE_AAD_AUTH_KEY: "true",
    C.AAD_AUTH_CALLBACK_KEY: "org.example.MyAadCallback",
    C.AAD_AUTH_CALLBACK_PARAMS_KEY: json.dumps({"tenantId": "t-1"}),
    C.DYNAMIC_PARTITION_DISCOVERY_KEY: "true",
}


def test_sample_values_cover_every_reference_key():
    assert set(SAMPLE_VALUES) == set(REFERENCE_OPTION_KEYS)


def test_full_reference_map_roundtrips_parse_emit_parse():
    conf = EventHubsConf()
    for k in REFERENCE_OPTION_KEYS:
        conf.set(k, SAMPLE_VALUES[k])
    emitted = conf.to_map()
    reparsed = EventHubsConf.from_map(emitted)
    # emit -> parse -> emit is a fixed point, canonical casing preserved
    assert reparsed.to_map() == emitted
    assert set(emitted) == set(REFERENCE_OPTION_KEYS)
    for k in REFERENCE_OPTION_KEYS:
        assert reparsed.get(k) == SAMPLE_VALUES[k]
        assert reparsed.get(k.upper()) == SAMPLE_VALUES[k]
        assert reparsed.get(k.lower()) == SAMPLE_VALUES[k]
    reparsed.validate()


def test_reference_canonical_casings_resolve():
    # the two keys whose reference casing differs from the usual
    # camelCase-after-prefix pattern must still resolve case-blind
    conf = EventHubsConf(CONN)
    conf.set("eventhubs.dynamicpartitiondiscovery", "true")
    assert conf.dynamic_partition_discovery
    conf.set("EVENTHUBS.AADAUTHCALLBACKPARAMS", json.dumps({"a": "b"}))
    assert conf.get(C.AAD_AUTH_CALLBACK_PARAMS_KEY) is not None


def test_max_events_per_trigger_bare_key_beats_alias():
    conf = EventHubsConf(CONN)
    assert conf.max_events_per_trigger() is None  # unset = no cap
    conf.set(C.MAX_EVENTS_PER_TRIGGER_ALIAS_KEY, 6000)
    assert conf.max_events_per_trigger() == 6000  # alias alone works
    conf.set(C.MAX_EVENTS_PER_TRIGGER_KEY, 5000)
    assert conf.max_events_per_trigger() == 5000  # bare key wins


def test_trimmed_matches_reference_include_list():
    conf = EventHubsConf()
    for k in REFERENCE_OPTION_KEYS:
        conf.set(k, SAMPLE_VALUES[k])
    t = conf.trimmed()
    # exactly the executor include list of EventHubsConf.scala:163-191
    expected = {
        C.CONNECTION_STRING_KEY,
        C.CONSUMER_GROUP_KEY,
        C.RECEIVER_TIMEOUT_KEY,
        C.MAX_SILENT_TIME_KEY,
        C.OPERATION_TIMEOUT_KEY,
        C.PREFETCH_COUNT_KEY,
        C.THREAD_POOL_SIZE_KEY,
        C.USE_EXCLUSIVE_RECEIVER_KEY,
        C.USE_SIMULATED_CLIENT_KEY,
        C.METRIC_PLUGIN_KEY,
        C.SLOW_PARTITION_ADJUSTMENT_KEY,
        C.THROTTLING_STATUS_PLUGIN_KEY,
        C.MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY,
        C.USE_AAD_AUTH_KEY,
        C.AAD_AUTH_CALLBACK_KEY,
        C.AAD_AUTH_CALLBACK_PARAMS_KEY,
        C.DYNAMIC_PARTITION_DISCOVERY_KEY,
    }
    assert set(t.to_map()) == expected
    # positions / rate limits / trigger caps are driver-only planner
    # state and must never ship
    for k in (C.STARTING_POSITION_KEY, C.ENDING_POSITIONS_KEY,
              C.MAX_RATE_PER_PARTITION_KEY, C.MAX_EVENTS_PER_TRIGGER_KEY,
              C.MAX_EVENTS_PER_TRIGGER_ALIAS_KEY,
              C.PARTITION_PREFERRED_LOCATION_STRATEGY_KEY):
        assert k not in t


def test_typed_setters_write_reference_keys():
    conf = (
        EventHubsConf(CONN)
        .set_receiver_timeout_ms(1000)
        .set_max_silent_time_ms(2000)
        .set_operation_timeout_ms(3000)
        .set_prefetch_count(400)
        .set_thread_pool_size(8)
        .set_use_exclusive_receiver(True)
        .set_metric_plugin("m.P")
        .set_throttling_status_plugin("t.P")
        .set_partition_preferred_location_strategy("Hash")
        .set_dynamic_partition_discovery(True)
    )
    m = conf.to_map()
    assert m[C.RECEIVER_TIMEOUT_KEY] == "1000"
    assert m[C.MAX_SILENT_TIME_KEY] == "2000"
    assert m[C.OPERATION_TIMEOUT_KEY] == "3000"
    assert m[C.PREFETCH_COUNT_KEY] == "400"
    assert m[C.THREAD_POOL_SIZE_KEY] == "8"
    assert m[C.USE_EXCLUSIVE_RECEIVER_KEY] == "true"
    assert m[C.PARTITION_PREFERRED_LOCATION_STRATEGY_KEY] == "Hash"
    assert conf.receiver_timeout_ms == 1000
    assert conf.operation_timeout_ms == 3000
    assert conf.prefetch_count == 400
    assert conf.dynamic_partition_discovery
    with pytest.raises(ValueError):
        conf.set_partition_preferred_location_strategy("RoundRobin")


def test_aad_validation_rules():
    conf = EventHubsConf(CONN).set_use_aad_auth(True)
    with pytest.raises(ValueError, match="aadAuthCallback"):
        conf.validate()
    conf.set_aad_auth_callback("org.example.Cb")
    conf.set_aad_auth_callback_params({"authority": "x"})
    conf.validate()
    assert conf.use_aad_auth  # implied by set_aad_auth_callback too
    fresh = EventHubsConf(CONN).set_aad_auth_callback("org.example.Cb")
    assert fresh.use_aad_auth
    bad = EventHubsConf(CONN).set(C.AAD_AUTH_CALLBACK_PARAMS_KEY, "{not json")
    with pytest.raises(ValueError, match="JSON"):
        bad.validate()
