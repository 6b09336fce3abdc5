"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the workload's inputs from the
seed, measures for ``--seconds``, checks every output and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it report the same figures under the
workload's own names, the failures by name, and the environment.
Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("rpc_lookup", "batch")
# Small enough that the heap fills and is collected within a run, so the
# peak resident set plateaus instead of tracking when GC happened to run.
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def code_sha(root: str) -> str:
    """Git sha of the checkout when it is a repository, else a sha1
    over the library's sources (an exported tree carries no .git)."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=root,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass
    h = hashlib.sha1()
    lib = os.path.join(root, "typebus_spark")
    for d, dirs, files in sorted(os.walk(lib)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def pin_environment(root: str, work: str) -> tuple[int, dict[str, str]]:
    """Cores, driver memory, import path and scratch dirs for this run.
    Returns (nproc, extra Spark conf)."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        # get_spark defaults to 16g, more than some hosts have
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # keep scratch inside the checkout, not /dev/shm
        SPARK_GRAFT_SHM_SCRATCH="0",
        TMPDIR=tmp,
        # Python UDF workers import typebus_spark from the checkout
        PYTHONPATH=os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # as bench.py: the inventory compiles many codegen units
        "spark.sql.codegen.cache.maxEntries": "10000",
        # -Xms: the heap starts at its full size instead of growing at
        # moments GC timing decides, which made peak RSS swing run to run.
        # A fixed set of JIT compiler threads, so tree_cpu_s can leave all
        # of their CPU out (a retired thread's time folds into the
        # process total).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    return nproc, conf


def peak_rss_mb() -> float:
    """Peak resident set of this Python driver plus the driver JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the gateway JVM and every Python worker
    it forked have exited."""
    from pyspark import SparkContext

    from common import own_processes, proc_stat

    def alive(pid: int) -> bool:
        got = proc_stat(f"/proc/{pid}/stat")
        return got is not None and got[1][0] != "Z"

    started = [pid for pid in own_processes() if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # workers outlive the JVM briefly, reparented away from this process
    deadline = time.monotonic() + 30
    while (left := [p for p in started if alive(p)]) and (
        time.monotonic() < deadline
    ):
        time.sleep(0.2)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def end_to_end(out, rss_mb: float):
    from common import median, tail

    walls = out.op_walls
    pct, tail_s = tail(walls)
    values = {
        "setup_s": out.setup_s,
        "op_p50_s": median(walls),
        "op_tail_s": tail_s,
        "throughput_per_s": out.items / out.items_wall if out.items_wall else 0.0,
        "op_cpu_s": median(out.op_cpu),
        "peak_rss_mb": rss_mb,
    }
    return values, {"samples": len(walls), "tail_pct": pct}


def assemble(values: dict[str, float], declared: list[dict]) -> dict:
    """The ``metrics`` object: every declared metric, in declared order.
    A value the workload measured under an undeclared name, or a
    declared end-to-end metric it did not measure, is an error."""
    names = [m["name"] for m in declared]
    extra = sorted(set(values) - set(names))
    if extra:
        raise KeyError(f"measured but not declared in BENCHMARK.json: {extra}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


def result(out, metrics: dict) -> dict:
    """The last stdout line's object."""
    return {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "typebus_spark", "__init__.py")):
        print(
            f"no typebus_spark package under {root}: run from a checkout root",
            file=sys.stderr,
        )
        return 2
    spec = load_spec(root)
    sys.path[:0] = [root, HERE]
    bench_root = os.path.join(root, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    load_start = os.getloadavg()[0]
    nproc, conf = pin_environment(root, work)

    import importlib

    from common import Ctx
    from spans import Py4jCounter, SparkStats, Tracer

    workload = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    from typebus_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(
        spark=spark, seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
        tracer=Tracer(enabled=False), py4j=None, stats=None, work=work,
        session_start_s=time.perf_counter() - t0, spark_conf=conf,
    )
    if ctx.traced:
        ctx.py4j = Py4jCounter()
        ctx.py4j.install()
        ctx.stats = SparkStats(spark, ctx.py4j)
    try:
        out = workload.run(ctx)
        rss = peak_rss_mb()
    finally:
        stop_jvm(ctx.spark)
        if ctx.py4j:
            ctx.py4j.uninstall()
        shutil.rmtree(work, ignore_errors=True)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "code": code_sha(root),
        "load_start": load_start, "load_end": os.getloadavg()[0],
    }
    e2e, sample_info = end_to_end(out, rss)
    if ctx.traced:
        if set(out.layers) != set(workload.LAYERS):
            raise KeyError(
                f"layers measured {sorted(out.layers)} != declared {sorted(workload.LAYERS)}"
            )
        declared, values = spec["per_layer"], out.layers
        os.makedirs(os.path.join(bench_root, "traces"), exist_ok=True)
        ctx.tracer.dump(
            os.path.join(bench_root, "traces", f"{args.workload}-{args.seed}.json"), env
        )
    else:
        declared, values = spec["end_to_end"], e2e
    metrics = assemble(values, declared)

    print("environment " + json.dumps(env))
    if not ctx.traced:
        print(f"operations {sample_info['samples']} timed, tail = "
              f"p{sample_info['tail_pct']:.0f}")
        for generic, own in workload.REPORT.items():
            print(f"{own} {e2e[generic]:.6g} {metrics[generic]['unit']}")
        for own, (value, unit) in out.report.items():
            print(f"{own} {value:.6g} {unit}")
        print(f"setup_s {e2e['setup_s']:.6g} s")
        print(f"peak_rss_mb {e2e['peak_rss_mb']:.6g} MB")
    print(f"failed_ratio {len(out.failures) / max(1, out.attempted):.6g} ratio "
          f"({len(out.failures)} of {out.attempted})")
    for f in out.failures:
        print(f"FAILED {f}")
    print(json.dumps(result(out, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
