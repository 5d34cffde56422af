"""EventHubsConf — case-insensitive options map with typed setters.

Re-implements the semantics of
``core/src/main/scala/org/apache/spark/eventhubs/EventHubsConf.scala``:
- case-insensitive string->string map with typed setters (lines 55-115)
- the option-key namespace (lines 697-722), for the keys this package
  reads
- precedence: per-partition maps override global scalars which override
  defaults (lines 242-245, 344-346)
- the connection string is stored encrypted and decrypted on read
  (lines 137-144)

Values are stored as strings (positions as JSON) exactly as PySpark
users of the reference build them
(docs/PySpark/structured-streaming-pyspark.md:52-120). An option map
written for the reference is accepted unchanged: any key round-trips
through ``to_map``/``from_map``, and the keys with no meaning for a
file-backed hub (receiver and operation timeouts, prefetch, thread
pool, exclusive receiver, simulated client, metric and throttling
plugins, preferred-location strategy, partition discovery: the stream
reader always picks up a new partition) are simply not read. Spark
hands the reader and the writer the same options map, so no
executor-side subset is built.
"""

from __future__ import annotations

import json
from typing import Dict, Iterator, Mapping, Optional

from spark_eventhubs_spark.connstr import ConnectionStringBuilder
from spark_eventhubs_spark.position import EventPosition

# Option keys — ref EventHubsConf.scala:697-722 (same names for fidelity)
CONNECTION_STRING_KEY = "eventhubs.connectionString"
CONSUMER_GROUP_KEY = "eventhubs.consumerGroup"
STARTING_POSITION_KEY = "eventhubs.startingPosition"
STARTING_POSITIONS_KEY = "eventhubs.startingPositions"
ENDING_POSITION_KEY = "eventhubs.endingPosition"
ENDING_POSITIONS_KEY = "eventhubs.endingPositions"
MAX_RATE_PER_PARTITION_KEY = "eventhubs.maxRatePerPartition"
MAX_RATES_PER_PARTITION_KEY = "eventhubs.maxRatesPerPartition"
MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY = "eventhubs.maxAcceptableBatchReceiveTime"
# the reference's primary key is the UN-prefixed "maxEventsPerTrigger";
# the prefixed form is its documented alias (EventHubsConf.scala:711-712)
MAX_EVENTS_PER_TRIGGER_KEY = "maxEventsPerTrigger"
MAX_EVENTS_PER_TRIGGER_ALIAS_KEY = "eventhubs.maxEventsPerTrigger"
SLOW_PARTITION_ADJUSTMENT_KEY = "eventhubs.slowPartitionAdjustment"
USE_AAD_AUTH_KEY = "eventhubs.useAadAuth"
AAD_AUTH_CALLBACK_KEY = "eventhubs.aadAuthCallback"
AAD_AUTH_CALLBACK_PARAMS_KEY = "eventhubs.AadAuthCallbackParams"
PARTITION_COUNT_KEY = "eventhubs.partitionCount"  # ours: partition count of the simulated hub

# Defaults — ref eventhubs/package.scala:37-59
DEFAULT_CONSUMER_GROUP = "$Default"
DEFAULT_MAX_RATE_PER_PARTITION = 1000
DEFAULT_MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_MS = 30_000
DEFAULT_PARTITION_COUNT = 4  # ref utils/EventHubsTestUtils.scala:189


class EventHubsConf(Mapping[str, str]):
    """Case-insensitive string->string map with typed accessors.

    Keys are matched case-insensitively but stored/echoed with their
    canonical casing, like the reference's CaseInsensitiveMap usage.
    """

    def __init__(self, connection_string: Optional[str] = None) -> None:
        self._map: Dict[str, str] = {}  # lowercased key -> value
        self._names: Dict[str, str] = {}  # lowercased key -> original casing
        if connection_string is not None:
            self.set_connection_string(connection_string)

    # ---- raw map API ----
    def set(self, key: str, value) -> "EventHubsConf":
        if value is None:
            raise ValueError(f"value for {key} must not be None")
        lk = key.lower()
        self._map[lk] = str(value)
        self._names[lk] = key
        return self

    def get(self, key: str, default: Optional[str] = None) -> Optional[str]:
        return self._map.get(key.lower(), default)

    def __getitem__(self, key: str) -> str:
        return self._map[key.lower()]

    def __iter__(self) -> Iterator[str]:
        return iter(self._names.values())

    def __len__(self) -> int:
        return len(self._map)

    def __contains__(self, key: object) -> bool:
        return isinstance(key, str) and key.lower() in self._map

    def to_map(self) -> Dict[str, str]:
        return {self._names[lk]: v for lk, v in self._map.items()}

    @classmethod
    def from_map(cls, m: Mapping[str, str]) -> "EventHubsConf":
        """Rebuild a conf from a plain options dict (``to_map`` inverse;
        what `.options(**conf.to_map())` hands a DataSource)."""
        c = cls()
        for k, v in m.items():
            c.set(k, v)
        return c

    # ---- typed setters/getters ----
    def set_connection_string(self, s: str) -> "EventHubsConf":
        """Stores the ENCRYPTED form, like the reference's
        setConnectionString (EventHubsConf.scala:137-139,
        EventHubsUtils.scala:187-192) — the secret never sits in
        plaintext inside option maps handed to Spark."""
        from spark_eventhubs_spark.crypto import encrypt

        return self.set(CONNECTION_STRING_KEY, encrypt(s))

    @property
    def connection_string(self) -> Optional[str]:
        """Decrypts on read (EventHubsConf.scala:141-144); a plaintext
        value (hand-written option map, pre-encryption conf) is
        returned unchanged — see crypto.decrypt_or_plaintext."""
        from spark_eventhubs_spark.crypto import decrypt_or_plaintext

        return decrypt_or_plaintext(self.get(CONNECTION_STRING_KEY))

    @property
    def name(self) -> Optional[str]:
        """Event hub entity name, parsed out of the connection string."""
        cs = self.connection_string
        if cs is None:
            return None
        return ConnectionStringBuilder.parse(cs).entity_path

    def set_consumer_group(self, g: str) -> "EventHubsConf":
        return self.set(CONSUMER_GROUP_KEY, g)

    @property
    def consumer_group(self) -> str:
        return self.get(CONSUMER_GROUP_KEY, DEFAULT_CONSUMER_GROUP)

    def set_starting_position(self, p: EventPosition) -> "EventHubsConf":
        return self.set(STARTING_POSITION_KEY, p.to_json())

    def set_starting_positions(self, per_partition: Dict[int, EventPosition]) -> "EventHubsConf":
        return self.set(
            STARTING_POSITIONS_KEY,
            json.dumps({str(k): json.loads(v.to_json()) for k, v in per_partition.items()},
                       sort_keys=True),
        )

    def set_ending_position(self, p: EventPosition) -> "EventHubsConf":
        return self.set(ENDING_POSITION_KEY, p.to_json())

    def set_ending_positions(self, per_partition: Dict[int, EventPosition]) -> "EventHubsConf":
        return self.set(
            ENDING_POSITIONS_KEY,
            json.dumps({str(k): json.loads(v.to_json()) for k, v in per_partition.items()},
                       sort_keys=True),
        )

    def _position(self, scalar_key: str, map_key: str, partition_id: int,
                  default: Optional[EventPosition]) -> Optional[EventPosition]:
        """Per-partition map overrides global scalar overrides default
        (ref EventHubsConf.scala:242-245,344-346)."""
        m = self.get(map_key)
        if m is not None:
            d = json.loads(m)
            if str(partition_id) in d:
                return EventPosition.from_json(json.dumps(d[str(partition_id)]))
        s = self.get(scalar_key)
        if s is not None:
            return EventPosition.from_json(s)
        return default

    def starting_position_for(self, partition_id: int) -> EventPosition:
        # default start = start of stream (ref EventHubsSource.scala default)
        p = self._position(STARTING_POSITION_KEY, STARTING_POSITIONS_KEY,
                           partition_id, EventPosition.from_start_of_stream())
        assert p is not None
        return p

    def ending_position_for(self, partition_id: int) -> EventPosition:
        p = self._position(ENDING_POSITION_KEY, ENDING_POSITIONS_KEY,
                           partition_id, EventPosition.from_end_of_stream())
        assert p is not None
        return p

    def set_max_events_per_trigger(self, n: int) -> "EventHubsConf":
        return self.set(MAX_EVENTS_PER_TRIGGER_KEY, int(n))

    def max_events_per_trigger(self) -> Optional[int]:
        """The per-trigger event cap, or None (no cap) when unset —
        unlike the reference, which defaults to partitionCount * 1000
        (EventHubsSource.scala:91-96). Accepts the bare key or its
        ``eventhubs.``-prefixed alias (EventHubsConf.scala:711-712); the
        bare key wins if both set."""
        v = self.get(MAX_EVENTS_PER_TRIGGER_KEY)
        if v is None:
            v = self.get(MAX_EVENTS_PER_TRIGGER_ALIAS_KEY)
        return None if v is None else int(v)

    def set_max_rate_per_partition(self, n: int) -> "EventHubsConf":
        return self.set(MAX_RATE_PER_PARTITION_KEY, int(n))

    def set_max_rates_per_partition(self, rates: Dict[int, int]) -> "EventHubsConf":
        return self.set(MAX_RATES_PER_PARTITION_KEY,
                        json.dumps({str(k): int(v) for k, v in rates.items()}, sort_keys=True))

    @property
    def max_rate_configured(self) -> bool:
        """True when the user explicitly set maxRate(s)PerPartition —
        the gate for the DStream-semantics per-partition clamp (the SQL
        source's own admission control is maxEventsPerTrigger)."""
        return (self.get(MAX_RATE_PER_PARTITION_KEY) is not None
                or self.get(MAX_RATES_PER_PARTITION_KEY) is not None)

    def max_rate_per_partition_for(self, partition_id: int) -> int:
        m = self.get(MAX_RATES_PER_PARTITION_KEY)
        if m is not None:
            d = json.loads(m)
            if str(partition_id) in d:
                return int(d[str(partition_id)])
        s = self.get(MAX_RATE_PER_PARTITION_KEY)
        if s is not None:
            return int(s)
        return DEFAULT_MAX_RATE_PER_PARTITION

    def set_slow_partition_adjustment(self, b: bool) -> "EventHubsConf":
        return self.set(SLOW_PARTITION_ADJUSTMENT_KEY, "true" if b else "false")

    @property
    def slow_partition_adjustment(self) -> bool:
        return self.get(SLOW_PARTITION_ADJUSTMENT_KEY, "false").lower() == "true"

    def set_max_acceptable_batch_receive_time_ms(self, ms: int) -> "EventHubsConf":
        return self.set(MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY, int(ms))

    @property
    def max_acceptable_batch_receive_time_ms(self) -> int:
        return int(self.get(MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_KEY,
                            str(DEFAULT_MAX_ACCEPTABLE_BATCH_RECEIVE_TIME_MS)))

    def set_partition_count(self, n: int) -> "EventHubsConf":
        return self.set(PARTITION_COUNT_KEY, int(n))

    @property
    def partition_count(self) -> int:
        return int(self.get(PARTITION_COUNT_KEY, str(DEFAULT_PARTITION_COUNT)))

    # ---- AAD auth surface ----
    # The reference authenticates via a user-supplied
    # AadAuthenticationCallback class shipped in the conf
    # (utils/AadAuthenticationCallback.scala:1,
    # docs/use-aad-authentication-to-connect-eventhubs.md). The conf
    # surface lives here; the checks and the execution path — class
    # resolution, constructor selection, token acquisition at
    # connection-open time — are spark_eventhubs_spark/auth.py, invoked
    # when a format("eventhubs") reader is created, the moment the
    # reference's ClientConnectionPool invokes it.
    def set_use_aad_auth(self, b: bool) -> "EventHubsConf":
        return self.set(USE_AAD_AUTH_KEY, "true" if b else "false")

    @property
    def use_aad_auth(self) -> bool:
        return self.get(USE_AAD_AUTH_KEY, "false").lower() == "true"

    def set_aad_auth_callback(self, class_name: str) -> "EventHubsConf":
        """Fully-qualified class/callable name; setting it implies
        useAadAuth=true, as the reference's setAadAuthCallback does."""
        self.set(USE_AAD_AUTH_KEY, "true")
        return self.set(AAD_AUTH_CALLBACK_KEY, class_name)

    def set_aad_auth_callback_params(self, params: Dict[str, str]) -> "EventHubsConf":
        return self.set(
            AAD_AUTH_CALLBACK_PARAMS_KEY, json.dumps(dict(params), sort_keys=True)
        )
