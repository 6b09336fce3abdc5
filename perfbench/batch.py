"""batch: the bulk retry drain and the query slice, one pass each per operation.

One operation is one ``BulkDrain.drain`` followed by one
``QuerySlice.run_pass``; its wall is the drain wall plus the summed query
walls. The drain is the data half of the router that ``rpc_lookup``
measures at small batches; the slice is the operator and query surface
the ROADMAP's open items target. Set-up warms both at once: staging
the events and two checked drains on one thread, the slice's
oracle-checked cold pass and one more pass on another.
"""

from __future__ import annotations

import sys
import time

import drain_bulk
import inventory
from common import (
    SHARED_LAYERS,
    Ctx,
    Meter,
    Outcome,
    concurrently,
    mean,
    median,
    timed_ops,
)

LAYERS = (*drain_bulk.LAYERS, *inventory.LAYERS, *SHARED_LAYERS)
REPORT = {"op_p50_s": "pass_p50_s", "throughput_per_s": "events_per_s"}


def run(ctx: Ctx) -> Outcome:
    t0 = time.perf_counter()
    out = Outcome()
    drain = drain_bulk.BulkDrain(ctx, out)
    queries = inventory.QuerySlice(ctx, out)
    # Each warm-up keeps fewer than half the cores busy, so the two run
    # side by side.
    concurrently(drain.warm_up, queries.warm_up)
    if ctx.traced:
        ctx.tracer.enabled = True
        drain.encode_alone()
        ctx.tracer.enabled = False
    out.setup_s = ctx.session_start_s + time.perf_counter() - t0
    print(f"setup {out.setup_s:.1f} s, session {ctx.session_start_s:.1f} s",
          file=sys.stderr)
    shared: list[dict[str, float]] = []

    def one_pass(k: int, traced: bool, meter: Meter) -> None:
        if traced:
            drain.decode_alone()
            ctx.stats.mark()
            calls0 = ctx.py4j.calls
        drain.drain(k, traced, meter)
        queries.run_pass(k, traced, meter)
        if traced:
            got = {f"spark.{f}": v for f, v in ctx.stats.since_mark().items()}
            got["py4j.calls"] = ctx.py4j.calls - calls0
            shared.append(got)

    plain, traced = timed_ops(ctx, one_pass)
    out.op_walls = [m.wall for m in plain]
    out.op_cpu = [m.cpu for m in plain]
    # throughput: input events that reached a terminal topic per second
    # of drain wall (every event does, once the drain checks out)
    out.items = len(drain.walls) * drain_bulk.EVENTS
    out.items_wall = sum(drain.walls)
    out.report["drain_p50_s"] = (median(drain.walls), "s")
    out.report["inventory_wall_s"] = (median(queries.passes), "s")
    out.report["query_p50_s"] = (median(queries.walls), "s")
    if ctx.traced:
        from spans import self_by_name

        selfs = self_by_name(ctx.tracer.spans)
        out.layers.update(drain.layers(selfs))
        out.layers.update(queries.layers(selfs))
        for key in shared[0]:
            out.layers[key] = mean([s[key] for s in shared])
        out.layers["trace.overhead_s"] = (
            median([m.wall for m in traced]) - median(out.op_walls)
        )
        out.layers["spark.core_ratio"] = drain.core_ratio(drain.walls)
    return out
