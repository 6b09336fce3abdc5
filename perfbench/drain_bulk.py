"""The bulk retry drain: the data half of the router.

Set-up stages seed-generated events for three typed topics on a
``FileBus``; two topics share a payload schema, so the router takes its
multi-schema-group path. One operation is ``FileBus.read`` ->
``drain_batches`` (max_attempts=2, exponential backoff) ->
``FileBus.publish(result.union_all())``. 80% of events succeed first
time, 15% fail once and then succeed, 5% exhaust their retries and go to
the dead-letter topic.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pandas as pd

import gen
from common import Ctx, Meter, Outcome, mean, median

EVENTS = 20_000
WARM_DRAINS = 2
SPANS = ("codec.encode", "codec.decode", "runtime.drain_batches", "runtime.publish")
LAYERS = (
    *(f"{s}_s" for s in SPANS),
    "runtime.drain_jobs",
    "runtime.bus_write_amp",
    "spark.core_ratio",
)


def _schemas():
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    value = StructType([
        StructField("seq", LongType()),
        StructField("fail_times", IntegerType()),
        StructField("value", DoubleType()),
    ])
    memo = StructType([
        StructField("seq", LongType()),
        StructField("fail_times", IntegerType()),
        StructField("memo", StringType()),
    ])
    return {"api.Charge": value, "api.Refund": value, "api.Note": memo}


def _fail_until(df):
    """Fail (``_error``) while the attempt number is below ``fail_times``."""
    import pyspark.sql.functions as F

    attempt = F.coalesce(F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0))
    payload = [c for c in df.columns if c != "meta"]
    return df.select(
        "meta", *payload,
        F.when(attempt < F.col("fail_times"), F.lit("transient")).alias("_error"),
    )


def build_service():
    from typebus_spark.registry import BackoffShape, RetryPolicy, Service

    svc = Service("drain-service")
    for topic, schema in _schemas().items():
        svc.declare_type(topic, schema)
        svc.declare_type(topic + ".done", schema)
        svc.register_stream(
            topic, topic + ".done", _fail_until,
            retry=RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL),
        )
    return svc


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def check_output(spark, bus, inp: gen.DrainInput) -> str | None:
    """None when per-topic counts (dead letters included) equal the
    generated split and the done topics' value sum matches."""
    import pyspark.sql.functions as F

    from typebus_spark.codec.envelope import decode_envelope
    from typebus_spark.runtime import DEAD_LETTER_TOPIC

    topics = [t + ".done" for t in gen.DRAIN_TOPICS] + [DEAD_LETTER_TOPIC]
    counts = {
        r["topic"]: r["count"]
        for r in bus.read(spark, topics).groupBy("topic").count().collect()
    }
    want = {**inp.expected_done, DEAD_LETTER_TOPIC: inp.expected_dead}
    if counts != want:
        return f"topic counts {counts} != {want}"
    value_topics = ["api.Charge.done", "api.Refund.done"]
    got = decode_envelope(
        bus.read(spark, value_topics), _schemas()["api.Charge"]
    ).agg(F.sum("payload.value")).first()[0]
    if abs(got - inp.expected_value_sum) > 1e-6 * max(1.0, inp.expected_value_sum):
        return f"done value sum {got} != {inp.expected_value_sum}"
    return None


class BulkDrain:
    """The staged events and the drain operation over them.

    Construction generates the events; ``warm_up`` is the rest of
    set-up."""

    def __init__(self, ctx: Ctx, out: Outcome):
        self.ctx, self.out = ctx, out
        self.inp = gen.drain_events(ctx.seed, EVENTS)
        self.schemas = _schemas()
        self.svc = build_service()
        self.bus = None  # the staged input, once warm_up has staged it
        self.in_bytes = 0
        self.walls: list[float] = []  # untraced drains that checked out
        self.write_amp: list[float] = []
        self.drain_jobs: list[float] = []

    def _frames(self):
        spark = self.ctx.spark
        return {
            t: spark.createDataFrame(pd.DataFrame(cols), self.schemas[t])
            for t, cols in self.inp.topics.items()
        }

    def warm_up(self) -> None:
        """Stage the events on the input bus, then run checked drains
        until the next one is as fast as later ones: the first compiles
        the drain's plans, the second still runs while the JIT compiles
        their hot paths."""
        from typebus_spark.codec.envelope import encode_envelope
        from typebus_spark.runtime import FileBus

        t0 = time.perf_counter()
        in_root = os.path.join(self.ctx.work, "bus")
        self.bus = FileBus(in_root)
        for topic, df in self._frames().items():
            self.bus.publish(encode_envelope(df, topic), topic)
        self.in_bytes = _dir_bytes(in_root)
        print(f"drain staging {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        for k in range(-WARM_DRAINS, 0):
            warm = Meter()
            self.drain(k, False, warm)
            print(f"warm drain {warm.wall:.3f} s", file=sys.stderr, flush=True)

    def encode_alone(self) -> None:
        """Time ``encode_envelope`` of the generated topics to ``noop``."""
        from typebus_spark.codec.envelope import encode_envelope

        with self.ctx.tracer.span("codec.encode"):
            for topic, df in self._frames().items():
                encode_envelope(df, topic).write.format("noop").mode("overwrite").save()

    def decode_alone(self) -> None:
        """Time ``decode_envelope`` of the staged topics to ``noop``."""
        from typebus_spark.codec.envelope import decode_envelope

        spark = self.ctx.spark
        with self.ctx.tracer.span("codec.decode"):
            for topic in gen.DRAIN_TOPICS:
                decode_envelope(
                    self.bus.read(spark, [topic]), self.schemas[topic]
                ).write.format("noop").mode("overwrite").save()

    def drain(self, k: int, traced: bool, meter: Meter) -> None:
        """One checked drain, timed into ``meter``. When traced, the
        caller has taken the Spark job mark."""
        from typebus_spark.runtime import FileBus, drain_batches

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        out_root = os.path.join(ctx.work, f"out{k}")
        dest = FileBus(out_root)
        wall0 = meter.wall
        with meter.timed(), tr.span("drain.op"):
            with tr.span("runtime.read"):
                raw = self.bus.read(spark, list(gen.DRAIN_TOPICS))
            with tr.span("runtime.drain_batches"):
                res = drain_batches(self.svc, raw)
            if traced:
                self.drain_jobs.append(ctx.stats.take_jobs())
            with tr.span("runtime.publish"):
                dest.publish(res.union_all())
        if traced:
            self.write_amp.append(_dir_bytes(out_root) / self.in_bytes)
        self.out.attempt()
        problem = check_output(spark, dest, self.inp)
        if problem:
            self.out.fail(f"drain {k}: {problem}")
        elif not traced and k >= 0:
            self.walls.append(meter.wall - wall0)
        shutil.rmtree(out_root)

    def layers(self, selfs: dict[str, list[float]]) -> dict[str, float]:
        got = {f"{s}_s": median(selfs.get(s, [])) for s in SPANS}
        got["runtime.drain_jobs"] = mean(self.drain_jobs)
        got["runtime.bus_write_amp"] = mean(self.write_amp)
        return got

    def core_ratio(self, nproc_walls: list[float]) -> float:
        """Throughput at ``nproc`` cores over throughput at one core: the
        same drain once more on a ``local[1]`` session."""
        from typebus_spark import get_spark
        from typebus_spark.runtime import FileBus, drain_batches

        ctx = self.ctx
        ctx.spark.stop()
        one = get_spark(app_name="perfbench-1core", cpus=1, extra_conf=ctx.spark_conf)
        ctx.spark = one
        dest = FileBus(os.path.join(ctx.work, "out-1core"))
        start = time.perf_counter()
        raw = self.bus.read(one, list(gen.DRAIN_TOPICS))
        dest.publish(drain_batches(self.svc, raw).union_all())
        one_core = time.perf_counter() - start
        self.out.attempt()
        if problem := check_output(one, dest, self.inp):
            self.out.fail(f"drain on local[1]: {problem}")
        return one_core / median(nproc_walls)
