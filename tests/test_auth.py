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

from conftest import SF_DIR

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


class NotACallback:
    pass


def _conf(**kw):
    return EventHubsConf(file_hub_connection_string(SF_DIR, "events"))


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
    """read_eventhubs and the native format("eventhubs") readers must
    execute the callback before planning — a failing acquisition aborts
    the read, and a succeeding one is actually called
    (ref ClientConnectionPool.scala:63-80)."""
    from spark_eventhubs_spark.sources.batch import read_eventhubs
    from spark_eventhubs_spark.sources.datasource import (
        EventHubsBatchReader,
        EventHubsStreamReader,
    )

    CALLS.clear()
    conf = _conf().set_aad_auth_callback(f"{__name__}.AadMock")
    df = read_eventhubs(spark, conf)
    assert len(CALLS) == 1 and CALLS[0][0] == EVENTHUBS_AUDIENCE
    assert df.count() > 0

    class_path = f"{__name__}.NotACallback"
    with pytest.raises(TypeError):
        read_eventhubs(spark, _conf().set_aad_auth_callback(class_path))

    # the native readers, driven in-process the way Spark's planner
    # starts them (an EventHubsConf is a valid options map)
    hub = str(tmp_path / "hub")
    for start_planning in (lambda c: EventHubsBatchReader(c).partitions(),
                           lambda c: EventHubsStreamReader(c).initialOffset()):
        CALLS.clear()
        start_planning(_conf().set("path", hub).set_aad_auth_callback(f"{__name__}.AadMock"))
        assert len(CALLS) == 1 and CALLS[0][0] == EVENTHUBS_AUDIENCE
        with pytest.raises(TypeError):
            start_planning(_conf().set("path", hub).set_aad_auth_callback(class_path))
