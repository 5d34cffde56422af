"""AAD authentication-callback execution path.

The reference authenticates to a real hub by instantiating a
user-supplied callback class from the conf and asking it for a token
at client-creation time:

- the class-name / params keys and the reflective two-constructor
  protocol (no-arg, or one ``params`` mapping) —
  ``EventHubsConf.scala:611-647`` (``setAadAuthCallback`` /
  ``aadAuthCallback()``);
- the invocation, passing (audience, authority, state) and the
  callback's own ``authority`` —
  ``client/ClientConnectionPool.scala:63-80``
  (``EventHubClient.createWithAzureActiveDirectory``);
- the test double — ``utils/AadAuthenticationCallbackMock.scala``.

A file-backed hub has no service to hand the token to, but the
callback CONTRACT is fully executed here: the class is resolved by
name, constructed with the declared params, and its
``acquire_token(audience, authority, state)`` runs at connection-open
time — so a misconfigured class path, a constructor mismatch, or a
token-acquisition failure surfaces exactly where the reference
surfaces it (client creation), not silently never.
"""

from __future__ import annotations

import importlib
import json
from abc import ABC, abstractmethod
from typing import Any, Optional

from spark_eventhubs_spark.conf import (
    AAD_AUTH_CALLBACK_KEY,
    AAD_AUTH_CALLBACK_PARAMS_KEY,
    EventHubsConf,
)

# the audience the reference requests tokens for (Event Hubs resource)
EVENTHUBS_AUDIENCE = "https://eventhubs.azure.net/"


class AadAuthenticationCallback(ABC):
    """Python twin of ``utils/AadAuthenticationCallback.scala``:
    implementations expose the AAD ``authority`` (tenant) and acquire
    tokens for an (audience, authority, state) triple. ``acquire_token``
    may return the token string directly or any object with a
    ``result()`` method (Future-style, like the reference's
    ``CompletableFuture``)."""

    @property
    @abstractmethod
    def authority(self) -> str: ...

    @abstractmethod
    def acquire_token(self, audience: str, authority: str, state: Any): ...


def resolve_aad_callback(conf: EventHubsConf) -> Optional[AadAuthenticationCallback]:
    """Instantiate the conf's callback class, or None when AAD auth is
    off. Mirrors ``EventHubsConf.aadAuthCallback()``: the params key
    selects between the no-arg and the one-mapping constructor."""
    if not conf.use_aad_auth:
        return None
    path = conf.get(AAD_AUTH_CALLBACK_KEY)
    if path is None:
        raise ValueError(f"{AAD_AUTH_CALLBACK_KEY} is required for AAD auth")
    params_json = conf.get(AAD_AUTH_CALLBACK_PARAMS_KEY) or "{}"
    try:
        params: Any = json.loads(params_json)
    except json.JSONDecodeError:
        params = None
    if not isinstance(params, dict):
        raise ValueError(
            f"{AAD_AUTH_CALLBACK_PARAMS_KEY} must be a JSON object, got {params_json!r}"
        )
    mod_name, _, cls_name = path.rpartition(".")
    if not mod_name:
        raise ValueError(
            f"{AAD_AUTH_CALLBACK_KEY} must be a fully-qualified "
            f"'module.Class' path, got {path!r}"
        )
    try:
        cls = getattr(importlib.import_module(mod_name), cls_name)
    except (ImportError, AttributeError) as e:
        raise ValueError(f"cannot load AAD callback class {path!r}: {e}") from e
    cb = cls(params) if params else cls()
    if not isinstance(cb, AadAuthenticationCallback):
        raise TypeError(
            f"{path} must subclass spark_eventhubs_spark.auth."
            "AadAuthenticationCallback (ref utils/AadAuthenticationCallback.scala)"
        )
    return cb


def acquire_connection_token(
    conf: EventHubsConf, audience: str = EVENTHUBS_AUDIENCE, state: Any = None
) -> Optional[str]:
    """Run the callback at connection-open time (the
    ``ClientConnectionPool.scala:63-80`` moment) and return its token,
    or None when the conf doesn't use AAD auth. Future-style results
    are unwrapped via ``result()``; a falsy or non-string token is a
    hard error, as a real client creation would be."""
    cb = resolve_aad_callback(conf)
    if cb is None:
        return None
    token = cb.acquire_token(audience, cb.authority, state)
    if hasattr(token, "result"):
        token = token.result()
    if not isinstance(token, str) or not token:
        raise ValueError(
            f"AAD callback {type(cb).__name__} returned an invalid token: "
            f"{token!r}"
        )
    return token
