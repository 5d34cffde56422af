"""Conf-map compatibility with the reference's serialized form.

The reference round-trips the WHOLE conf map through toMap/apply
(EventHubsConf.scala:101-104, 697-722). These tests take every
documented reference key, including those this package accepts but
never reads, and pin: round-trip stability, case insensitivity under
the reference's own canonical casings (including the odd ones —
``eventhubs.AadAuthCallbackParams``,
``eventhubs.DynamicPartitionDiscovery``), the maxEventsPerTrigger
bare-key/alias precedence, and the AAD rules
(docs/use-aad-authentication-to-connect-eventhubs.md) as the reader's
callback resolution enforces them.
No Spark session needed — pure-Python kernel tier (SURVEY §5 tier 2).
"""

import json

import pytest

from spark_eventhubs_spark import conf as C
from spark_eventhubs_spark.auth import resolve_aad_callback
from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string
from spark_eventhubs_spark.position import EventPosition

CONN = file_hub_connection_string("/tmp/hub", "events")

# every option key the reference enumerates, in its canonical casing
# (EventHubsConf.scala:697-722), with one representative value shaped
# like the values the reference's PySpark docs put in the map
# (docs/PySpark/structured-streaming-pyspark.md:52-120); the keys with
# no constant in conf.py are accepted and never read
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
    "eventhubs.receiverTimeout": "60000",
    "eventhubs.maxSilentTime": "120000",
    "eventhubs.operationTimeout": "300000",
    "eventhubs.prefetchCount": "500",
    "eventhubs.threadPoolSize": "16",
    "eventhubs.useExclusiveReceiver": "true",
    C.MAX_EVENTS_PER_TRIGGER_KEY: "5000",
    C.MAX_EVENTS_PER_TRIGGER_ALIAS_KEY: "6000",
    "useSimulatedClient": "true",
    "eventhubs.metricPlugin": "org.example.MyMetricPlugin",
    "partitionPreferredLocationStrategy": "BalancedHash",
    C.SLOW_PARTITION_ADJUSTMENT_KEY: "true",
    "eventhubs.throttlingStatusPlugin": "org.example.MyThrottlingPlugin",
    C.MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY: "30000",
    C.USE_AAD_AUTH_KEY: "true",
    C.AAD_AUTH_CALLBACK_KEY: "org.example.MyAadCallback",
    C.AAD_AUTH_CALLBACK_PARAMS_KEY: json.dumps({"tenantId": "t-1"}),
    "eventhubs.DynamicPartitionDiscovery": "true",
}


def test_sample_values_cover_every_reference_key():
    # the reference enumerates 26 keys; every key conf.py reads, except
    # our own partitionCount, is one of them
    assert len(SAMPLE_VALUES) == 26
    read = {v for k, v in vars(C).items() if k.endswith("_KEY")}
    assert read - {C.PARTITION_COUNT_KEY} <= set(SAMPLE_VALUES)


def test_full_reference_map_roundtrips_parse_emit_parse():
    conf = EventHubsConf()
    for k, v in SAMPLE_VALUES.items():
        conf.set(k, v)
    emitted = conf.to_map()
    reparsed = EventHubsConf.from_map(emitted)
    # emit -> parse -> emit is a fixed point, canonical casing preserved
    assert reparsed.to_map() == emitted
    assert set(emitted) == set(SAMPLE_VALUES)
    for k, v in SAMPLE_VALUES.items():
        assert reparsed.get(k) == v
        assert reparsed.get(k.upper()) == v
        assert reparsed.get(k.lower()) == v


def test_reference_canonical_casings_resolve():
    # the two keys whose reference casing differs from the usual
    # camelCase-after-prefix pattern must still resolve case-blind
    conf = EventHubsConf(CONN)
    conf.set("eventhubs.dynamicpartitiondiscovery", "true")
    assert conf.get("eventhubs.DynamicPartitionDiscovery") == "true"
    conf.set("EVENTHUBS.AADAUTHCALLBACKPARAMS", json.dumps({"a": "b"}))
    assert conf.get(C.AAD_AUTH_CALLBACK_PARAMS_KEY) is not None


def test_max_events_per_trigger_bare_key_beats_alias():
    conf = EventHubsConf(CONN)
    assert conf.max_events_per_trigger() is None  # unset = no cap
    conf.set(C.MAX_EVENTS_PER_TRIGGER_ALIAS_KEY, 6000)
    assert conf.max_events_per_trigger() == 6000  # alias alone works
    conf.set(C.MAX_EVENTS_PER_TRIGGER_KEY, 5000)
    assert conf.max_events_per_trigger() == 5000  # bare key wins


def test_aad_validation_rules():
    conf = EventHubsConf(CONN).set_use_aad_auth(True)
    with pytest.raises(ValueError, match="aadAuthCallback"):
        resolve_aad_callback(conf)
    fresh = EventHubsConf(CONN).set_aad_auth_callback("org.example.Cb")
    assert fresh.use_aad_auth  # implied by set_aad_auth_callback
    for params in ("{not json", "[1, 2]"):
        bad = (EventHubsConf(CONN).set_aad_auth_callback("org.example.Cb")
               .set(C.AAD_AUTH_CALLBACK_PARAMS_KEY, params))
        with pytest.raises(ValueError, match="must be a JSON object"):
            resolve_aad_callback(bad)
    # AAD off: the callback keys are not consulted
    assert resolve_aad_callback(EventHubsConf(CONN)) is None
