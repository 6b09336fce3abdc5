"""py4j budget of a warm router build.

Every Column node built on the driver is a py4j round trip, and
``run_batch`` runs once per micro-batch (and once per drain round), so
the router caches its static Column trees (runtime.py lru_caches). This
pins what a WARM build costs: a regression in those caches shows up here
as extra send_command calls long before it shows up as bench wall.

The bounds are the counts measured in a fresh process running this
module alone, before the router's identity-keyed Column caches were
replaced by spec-keyed lru_caches; a change may lower them, never raise
them. py4j's memory-delete commands (sent when Python drops a JVM
reference) follow GC timing, not plan building, and are not counted.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from typebus_spark.codec.envelope import encode_envelope
from typebus_spark.queries.dataflow import (
    _fail_n_times_handler,
    _identity_payload_handler,
)
from typebus_spark.registry import BackoffShape, RetryPolicy, Service
from typebus_spark.runtime import run_batch

# send_command counts per build (see module docstring)
WARM_TRACED_BUILD_CALLS = 306
RETRY_BUILD_CALLS = 3662

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)
TASK_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("fail_times", LongType()),
    ]
)
NOTE_SCHEMA = StructType([StructField("note", StringType())])


def _traced_service() -> Service:
    """q_route_traced's shape: two same-schema streams with replies."""
    svc = Service("budget-traced")
    for et in ("purchase", "view"):
        svc.declare_type(f"api.{et}", EVENT_SCHEMA)
        svc.declare_type(f"api.{et}.done", EVENT_SCHEMA)
        svc.register_stream(
            f"api.{et}", f"api.{et}.done", _identity_payload_handler
        )
    return svc


def _retry_service() -> Service:
    """A retrying stream beside a second payload schema, so the build
    takes the multi-group decode path and the live-topic probe."""
    svc = Service("budget-retry")
    svc.declare_type("api.Task", TASK_SCHEMA)
    svc.declare_type("api.Task.done", TASK_SCHEMA)
    svc.register_stream(
        "api.Task",
        "api.Task.done",
        _fail_n_times_handler,
        retry=RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL),
    )
    svc.declare_type("api.Note", NOTE_SCHEMA)
    svc.register_stream("api.Note", None, lambda df: None)
    return svc


def test_warm_router_build_py4j_budget(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    DETACH = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    events = spark.createDataFrame(
        [(1, 10, 1.5, "purchase"), (2, 11, 2.5, "view")],
        "event_id long, user_id long, value double, event_type string",
    )
    traced_raw = encode_envelope(
        events,
        F.concat(F.lit("api."), F.col("event_type")),
        payload_cols=["event_id", "user_id", "value"],
    )
    tasks = spark.createDataFrame([(1, 0), (2, 1)], TASK_SCHEMA)
    notes = spark.createDataFrame([("hi",)], NOTE_SCHEMA)
    # a descriptor request too: every service carries the same
    # descriptor reply stream, so its reply trees must be shared
    # across services, not rebuilt per service name
    ask = spark.createDataFrame([("budget-retry",)], "service string")
    retry_raw = (
        encode_envelope(tasks, "api.Task")
        .unionByName(encode_envelope(notes, "api.Note"))
        .unionByName(encode_envelope(ask, Service.GET_DESCRIPTOR_FQN))
    )
    traced, retry = _traced_service(), _retry_service()

    calls = {"n": 0}
    orig = ClientServerConnection.send_command

    def counted(self, command, *a, **k):
        if not command.startswith(DETACH):
            calls["n"] += 1
        return orig(self, command, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def build(svc, raw, **kw) -> int:
        before = calls["n"]
        out = run_batch(svc, raw, now_epoch=1_000_000, **kw).union_all()
        assert out is not None
        return calls["n"] - before

    first = build(traced, traced_raw, trace=True)
    second = build(traced, traced_raw, trace=True)
    retry_build = build(retry, retry_raw)
    assert second <= first
    assert second <= WARM_TRACED_BUILD_CALLS, (first, second)
    assert retry_build <= RETRY_BUILD_CALLS, retry_build
