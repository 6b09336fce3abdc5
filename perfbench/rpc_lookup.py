"""rpc_lookup: closed-loop entity lookups through the RPC path, one client.

An entity service answers ``<state>.get`` requests from a 100k-row
snapshot (``Service.register_entity``). One round trip publishes 500
lookups with ``Client.wire``, runs the service once with
``start_service`` (availableNow, one checkpoint kept across rounds),
waits for it, and gathers the replies with ``Client.gather(...)
.collect()``. Plan construction, trigger machinery and small-file bus IO
dominate; the data work is near zero.
"""

from __future__ import annotations

import os
import sys
import time

import gen
from common import SHARED_LAYERS, Ctx, Meter, Outcome, mean, median, timed_ops

WARM_ROUNDS = 3  # round trips speed up over the first five or so
WARM_BASE = 1_000_000  # round numbers of the warm-up rounds
REPORT = {"op_p50_s": "rtt_p50_s", "op_tail_s": "rtt_p90_s", "throughput_per_s": "lookups_per_s"}
STATE_TYPE = "api.Account"
PROGRESS_KEYS = {
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "latestOffset": "latest_offset_ms",
}
SPANS = (
    "streaming.client.wire", "runtime.start_service",
    "runtime.trigger", "streaming.client.gather",
)
LAYERS = (
    *(f"{s}_s" for s in SPANS),
    *(f"runtime.progress.{v}" for v in PROGRESS_KEYS.values()),
    "runtime.bus_files",
    *SHARED_LAYERS,
)


def _state_schema():
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("balance", DoubleType(), True),
        StructField("tier", IntegerType(), True),
    ])


def check_replies(seed: int, asked: list[int], rows) -> str | None:
    """None when every request came back ``completed`` with the snapshot
    row of the key its correlation id names (null state on a miss);
    otherwise the first problem found."""
    if len(rows) != len(asked):
        return f"{len(rows)} replies for {len(asked)} requests"
    got = sorted(int(r["correlation_id"]) for r in rows)
    if got != sorted(asked):
        return "reply keys differ from the keys asked for"
    for r in rows:
        key = int(r["correlation_id"])
        if r["status"] != "completed" or r["right"] is None:
            return f"key {key}: status {r['status']}"
        right = r["right"]
        want = (
            gen.snapshot_row(seed, key)
            if key < gen.SNAPSHOT_ROWS
            else (None, None, None)
        )
        if right["id"] != key or (right["name"], right["balance"], right["tier"]) != want:
            return f"key {key}: reply {tuple(right)} != {want}"
    return None


def run(ctx: Ctx) -> Outcome:
    import pyspark.sql.functions as F

    from typebus_spark.registry import Service
    from typebus_spark.runtime import FileBus, start_service
    from typebus_spark.streaming.client import Client

    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    schema = _state_schema()
    svc = Service("entity-service")
    svc.declare_type(STATE_TYPE, schema)
    svc.register_entity(
        "account", STATE_TYPE, key_col="id",
        snapshot=gen.snapshot_frame(spark, ctx.seed),
    )
    bus_root = os.path.join(ctx.work, "bus")
    bus = FileBus(bus_root)
    client = Client("rpc-client", bus, spark)
    checkpoint = os.path.join(ctx.work, "checkpoint")
    out = Outcome()
    per_op: dict[str, list[float]] = {}
    good = {"plain": 0}

    def round_trip(k: int, traced: bool, meter: Meter) -> None:
        asked = gen.lookup_ids(ctx.seed, k)
        req = spark.createDataFrame([(i,) for i in asked], "id long")
        if traced:
            ctx.stats.mark()
            calls0 = ctx.py4j.calls
        with meter.timed(), tr.span("rpc.round_trip"):
            with tr.span("streaming.client.wire"):
                wired = client.wire(
                    req, f"{STATE_TYPE}.get",
                    correlation_id=F.col("id").cast("string"),
                )
            with tr.span("runtime.start_service"):
                q = start_service(svc, bus, spark, checkpoint)
            with tr.span("runtime.trigger"):
                q.awaitTermination()
            with tr.span("streaming.client.gather"):
                rows = client.gather(wired, schema).collect()
        out.attempt()
        problem = check_replies(ctx.seed, asked, rows)
        if problem:
            out.fail(f"rpc_lookup round {k}: {problem}")
        elif not traced and k < WARM_BASE:
            good["plain"] += 1
        if traced:
            per_op.setdefault("py4j.calls", []).append(ctx.py4j.calls - calls0)
            for name, v in ctx.stats.since_mark().items():
                per_op.setdefault(f"spark.{name}", []).append(v)
            with ctx.py4j.paused():
                progress = q.recentProgress
            for src, dst in PROGRESS_KEYS.items():
                per_op.setdefault(f"runtime.progress.{dst}", []).append(
                    sum(p["durationMs"].get(src, 0) for p in progress)
                )

    for k in range(WARM_ROUNDS):
        meter = Meter()
        round_trip(WARM_BASE + k, False, meter)
        print(f"warm {k} {meter.wall:.3f} s", file=sys.stderr, flush=True)
    out.setup_s = ctx.session_start_s + time.perf_counter() - t0

    plain, traced = timed_ops(ctx, round_trip)
    out.op_walls = [m.wall for m in plain]
    out.op_cpu = [m.cpu for m in plain]
    out.items = good["plain"] * gen.REQUESTS_PER_ROUND
    out.items_wall = sum(out.op_walls)
    bus_files = sum(len(f) for _, _, f in os.walk(bus_root))
    if ctx.traced:
        from spans import self_by_name

        selfs = self_by_name(tr.spans)
        for layer in SPANS:
            out.layers[f"{layer}_s"] = median(selfs.get(layer, []))
        for name, vals in per_op.items():
            out.layers[name] = (
                median(vals) if name.startswith("runtime.progress") else mean(vals)
            )
        out.layers["runtime.bus_files"] = bus_files
        out.layers["trace.overhead_s"] = (
            median([m.wall for m in traced]) - median(out.op_walls)
        )
    return out
