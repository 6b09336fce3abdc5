"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import batch  # noqa: E402
import common  # noqa: E402
import gen  # noqa: E402
import inventory  # noqa: E402
import rpc_lookup  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_by_name, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = {"rpc_lookup": rpc_lookup, "batch": batch}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(WORKLOADS)


def test_end_to_end_names_match_benchmark_json():
    out = common.Outcome(
        setup_s=1.0, op_walls=[1.0, 2.0, 3.0], op_cpu=[2.0, 1.0, 4.0], items=30, items_wall=6.0
    )
    values, info = run.end_to_end(out, rss_mb=100.0)
    metrics = run.assemble(values, SPEC["end_to_end"])
    assert list(metrics) == [m["name"] for m in SPEC["end_to_end"]]
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        k: v["unit"] for k, v in metrics.items()
    }
    assert metrics["throughput_per_s"]["value"] == 5.0
    assert metrics["op_cpu_s"]["value"] == 2.0
    assert info == {"samples": 3, "tail_pct": 50.0}


def test_per_layer_names_match_benchmark_json():
    declared = [m["name"] for m in SPEC["per_layer"]]
    assert len(declared) == len(set(declared))
    reported = set().union(*(set(w.LAYERS) for w in WORKLOADS.values()))
    assert reported == set(declared)
    for w in WORKLOADS.values():  # every traced run prints every metric
        metrics = run.assemble(dict.fromkeys(w.LAYERS, 1.0), SPEC["per_layer"])
        assert list(metrics) == declared


def test_assemble_rejects_undeclared_metric():
    with pytest.raises(KeyError, match="not declared"):
        run.assemble({"no_such_metric": 1.0}, SPEC["end_to_end"])


@pytest.mark.parametrize(
    "n, pct, rank", [(100, 90.0, 90), (200, 95.0, 190), (30, 200 / 3, 20), (20, 50.0, 10), (19, 50.0, None)]
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct, rank):
    values = [float(i) for i in range(n, 0, -1)]  # 1..n, shuffled order
    got_pct, got = common.tail(values)
    assert got_pct == pytest.approx(pct)
    if rank is None:  # too few samples: the median
        assert got == common.median(values)
    else:
        assert got == float(rank)
        assert sum(v > got for v in values) == 10


def test_tail_below_twenty_samples_is_median():
    values = [5.0, 1.0, 3.0]
    assert common.tail(values) == (50.0, 3.0)


def _reply(seed, key, status="completed"):
    if key < gen.SNAPSHOT_ROWS:
        name, balance, tier = gen.snapshot_row(seed, key)
    else:
        name = balance = tier = None
    right = {"id": key, "name": name, "balance": balance, "tier": tier}
    return {"correlation_id": str(key), "status": status, "right": right}


def test_rpc_check_accepts_snapshot_rows_and_null_misses():
    asked = [3, 3, gen.SNAPSHOT_ROWS + 7]
    rows = [_reply(1, k) for k in asked]
    assert rpc_lookup.check_replies(1, asked, rows) is None


@pytest.mark.parametrize("corrupt", ["balance", "status", "missing", "miss_state"])
def test_forced_wrong_output_counts_in_failed_ratio(corrupt, capsys):
    seed, asked = 5, [10, 20, gen.SNAPSHOT_ROWS + 1]
    rows = [_reply(seed, k) for k in asked]
    if corrupt == "balance":
        rows[0]["right"]["balance"] += 0.01
    elif corrupt == "status":
        rows[1]["status"] = "timeout"
    elif corrupt == "missing":
        rows.pop()
    else:
        rows[2]["right"]["name"] = "acct"
    problem = rpc_lookup.check_replies(seed, asked, rows)
    assert problem
    out = common.Outcome(setup_s=1.0, op_walls=[1.0], items=0, attempted=4)
    out.fail(f"rpc_lookup round 0: {problem}")
    result = run.result(out, {})
    assert result["correct"] is False
    assert (result["failed"], result["attempted"]) == (1, 4)
    assert "FAILED rpc_lookup round 0" in capsys.readouterr().err


def test_self_time_is_never_negative_with_nested_and_overrunning_spans():
    spans = [
        Span(1, "root", 1, None, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 4.0),
        Span(3, "b", 1, 1, 3.0, 6.0),  # overlaps a
        Span(4, "c", 1, 1, 9.0, 12.0),  # runs past root's end
        Span(5, "leaf", 1, 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)  # a∪b = [1,6], c clipped to [9,10]
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert all(v >= 0 for v in st.values())


def test_tracer_children_fit_inside_parent_wall():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        for _ in range(3):
            with tr.span("layer"):
                with tr.span("inner"):
                    sum(range(1000))
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert s.op == p.op
    selfs = self_by_name(tr.spans)
    assert len(selfs["layer"]) == 3
    assert all(v >= 0 for vals in selfs.values() for v in vals)


def test_meter_counts_only_timed_segments_and_child_cpu():
    import subprocess

    meter = common.Meter()
    with meter.timed():
        subprocess.run([sys.executable, "-c", "sum(range(10**7))"], check=True)
    sum(range(10**7))  # between segments: not counted
    with meter.timed():
        pass
    assert meter.cpu >= 0.05  # the child's CPU is included
    assert meter.wall >= meter.cpu * 0.5


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


def test_inputs_depend_only_on_seed():
    assert gen.lookup_ids(3, 0) == gen.lookup_ids(3, 0)
    assert gen.lookup_ids(3, 0) != gen.lookup_ids(4, 0)
    misses = sum(k >= gen.SNAPSHOT_ROWS for k in gen.lookup_ids(3, 0))
    assert 20 <= misses <= 80  # about 10% of 500
    a, b = gen.drain_events(7, 5000), gen.drain_events(7, 5000)
    assert a.expected_done == b.expected_done and a.expected_dead == b.expected_dead
    assert sum(a.expected_done.values()) + a.expected_dead == 5000
    t1, t2 = gen.inventory_tables(1, 0.001), gen.inventory_tables(1, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_inventory_covers_every_query_module():
    from typebus_spark import suite

    mods = {inventory.module_of(suite.QUERIES[n]) for n in inventory.QUERIES}
    assert mods == set(inventory.MODULES)


def test_run_refuses_a_directory_without_the_library(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "rpc_lookup", "--seed", "1", "--seconds", "1"]) == 2


def test_concurrently_runs_every_part_and_reraises_a_failure():
    out, seen = common.Outcome(), []

    def count():
        for _ in range(1000):
            out.attempt()
        seen.append("count")

    def broken():
        raise ValueError("warm-up failed")

    common.concurrently(count, count)
    assert out.attempted == 2000 and seen == ["count", "count"]
    with pytest.raises(ValueError, match="warm-up failed"):
        common.concurrently(count, broken)
    assert out.attempted == 3000
