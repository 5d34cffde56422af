"""AAD callback execution path (auth.py) — Python twin of the
reference's AadAuthenticationCallbackMock-driven conf tests
(utils/AadAuthenticationCallbackMock.scala, EventHubsConf.scala:611-647,
invocation site ClientConnectionPool.scala:63-80)."""

import pytest

from spark_eventhubs_spark.auth import (
    EVENTHUBS_AUDIENCE,
    AadAuthenticationCallback,
    acquire_connection_token,
    resolve_aad_callback,
)
from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.connstr import file_hub_connection_string

CALLS = []


class AadMock(AadAuthenticationCallback):
    """No-arg twin of AadAuthenticationCallbackMock."""

    @property
    def authority(self):
        return "Fake-tenant-id"

    def acquire_token(self, audience, authority, state):
        CALLS.append((audience, authority, state))
        return "tok-" + authority


class AadMockWithParams(AadAuthenticationCallback):
    """Params-constructor twin of AadAuthenticationCallbackMockWithParams."""

    def __init__(self, params):
        self._params = params

    @property
    def authority(self):
        return self._params["authority"]

    def acquire_token(self, audience, authority, state):
        return "tok-" + authority


class AadMockFuture(AadAuthenticationCallback):
    """Future-style result, like the reference's CompletableFuture."""

    @property
    def authority(self):
        return "t"

    def acquire_token(self, audience, authority, state):
        from concurrent.futures import Future

        f = Future()
        f.set_result("future-tok")
        return f


class AadMarker(AadAuthenticationCallback):
    """Appends each requested audience to the file named by its
    ``marker`` param, so a call made in a Spark Python worker is visible
    to the test."""

    def __init__(self, params):
        self._path = params["marker"]

    @property
    def authority(self):
        return "marker-tenant"

    def acquire_token(self, audience, authority, state):
        with open(self._path, "a") as fh:
            fh.write(audience + "\n")
        return "tok-" + authority


class NotACallback:
    pass


def _conf(directory="/unused"):
    return EventHubsConf(file_hub_connection_string(directory, "events"))


def test_no_aad_returns_none():
    assert resolve_aad_callback(_conf()) is None
    assert acquire_connection_token(_conf()) is None


def test_noarg_constructor_and_invocation():
    conf = _conf().set_aad_auth_callback(f"{__name__}.AadMock")
    CALLS.clear()
    tok = acquire_connection_token(conf, state="s1")
    assert tok == "tok-Fake-tenant-id"
    # invoked with (audience, the callback's OWN authority, state) —
    # the exact triple ClientConnectionPool passes
    assert CALLS == [(EVENTHUBS_AUDIENCE, "Fake-tenant-id", "s1")]


def test_params_constructor_selected_when_params_present():
    conf = (
        _conf()
        .set_aad_auth_callback(f"{__name__}.AadMockWithParams")
        .set_aad_auth_callback_params({"authority": "my-tenant"})
    )
    cb = resolve_aad_callback(conf)
    assert cb.authority == "my-tenant"
    assert acquire_connection_token(conf) == "tok-my-tenant"


def test_future_style_token_unwrapped():
    conf = _conf().set_aad_auth_callback(f"{__name__}.AadMockFuture")
    assert acquire_connection_token(conf) == "future-tok"


def test_bad_class_path_and_wrong_type_error():
    with pytest.raises(ValueError, match="cannot load"):
        acquire_connection_token(
            _conf().set_aad_auth_callback("no.such.module.Cls")
        )
    with pytest.raises(ValueError, match="fully-qualified"):
        acquire_connection_token(_conf().set_aad_auth_callback("Bare"))
    with pytest.raises(TypeError, match="must subclass"):
        acquire_connection_token(
            _conf().set_aad_auth_callback(f"{__name__}.NotACallback")
        )


def test_callback_runs_at_connection_open(spark, tmp_path):
    """format("eventhubs") executes the callback when it creates its
    reader, before planning — a failing acquisition aborts the read, and
    a succeeding one is actually called (ref ClientConnectionPool.scala:63-80).
    The reader is created in a Spark Python worker, which imports this
    module from the session's files."""
    from pyspark.sql import functions as F

    from spark_eventhubs_spark.sources.datasource import read_eventhubs, write_eventhubs

    spark.sparkContext.addPyFile(__file__)
    write_eventhubs(spark.range(3).select(F.col("id").cast("string").alias("body")),
                    _conf(str(tmp_path)))
    marker = tmp_path / "calls"
    conf = (
        _conf(str(tmp_path))
        .set_aad_auth_callback(f"{__name__}.AadMarker")
        .set_aad_auth_callback_params({"marker": str(marker)})
    )
    assert read_eventhubs(spark, conf).count() == 3
    calls = marker.read_text().splitlines()
    assert calls and set(calls) == {EVENTHUBS_AUDIENCE}

    bad = _conf(str(tmp_path)).set_aad_auth_callback(f"{__name__}.NotACallback")
    with pytest.raises(Exception, match="must subclass"):
        read_eventhubs(spark, bad).count()
