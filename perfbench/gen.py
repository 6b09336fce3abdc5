"""Seeded input generation for the three workloads.

Everything the library receives is made here from ``--seed``: the same
seed gives byte-identical inputs. The inventory tables follow the
TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables the query inventory reads (column names, types and
value domains as in FIXTURES.md), written with pyarrow so generation
costs no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- rpc_lookup

SNAPSHOT_ROWS = 100_000
REQUESTS_PER_ROUND = 500
MISS_SHARE = 0.10


def lookup_ids(seed: int, round_no: int) -> list[int]:
    """Ids one round asks for: about ``MISS_SHARE`` of them lie beyond
    the snapshot's key range (misses), the rest are snapshot keys."""
    rng = np.random.default_rng([seed, 1, round_no])
    hits = rng.integers(0, SNAPSHOT_ROWS, REQUESTS_PER_ROUND)
    misses = rng.integers(SNAPSHOT_ROWS, 2 * SNAPSHOT_ROWS, REQUESTS_PER_ROUND)
    pick_miss = rng.random(REQUESTS_PER_ROUND) < MISS_SHARE
    return [int(x) for x in np.where(pick_miss, misses, hits)]


def snapshot_row(seed: int, key: int) -> tuple[str, float, int]:
    """The (name, balance, tier) state of snapshot key ``key`` — the
    oracle each lookup reply is checked against. A pure function of
    (seed, key) so the same formula builds the snapshot in Spark
    (``snapshot_frame``) and checks it here."""
    salt = seed % 997
    return f"acct-{key}-{salt}", ((key * 37 + salt) % 100_000) / 100.0, (key + salt) % 7


def snapshot_frame(spark, seed: int):
    import pyspark.sql.functions as F

    salt = seed % 997
    return spark.range(SNAPSHOT_ROWS).select(
        F.col("id"),
        F.concat(F.lit("acct-"), F.col("id").cast("string"), F.lit(f"-{salt}")).alias(
            "name"
        ),
        (((F.col("id") * 37 + salt) % 100_000) / 100.0).alias("balance"),
        ((F.col("id") + salt) % 7).cast("int").alias("tier"),
    )


# ---------------------------------------------------------------- drain_bulk

DRAIN_TOPICS = ("api.Charge", "api.Refund", "api.Note")
# fail_times -> share of events: 0 succeeds first try, 1 fails once then
# succeeds, 3 exceeds max_attempts=2 and dead-letters
FAIL_SPLIT = ((0, 0.80), (1, 0.15), (3, 0.05))


@dataclass
class DrainInput:
    """Per-topic event columns plus the outcome split they must produce."""

    topics: dict[str, dict[str, np.ndarray]]
    expected_done: dict[str, int]
    expected_dead: int
    expected_value_sum: float  # over the two value-carrying done topics


def drain_events(seed: int, n: int) -> DrainInput:
    rng = np.random.default_rng([seed, 2])
    topic_of = rng.integers(0, len(DRAIN_TOPICS), n)
    u = rng.random(n)
    fail = np.select(
        [u < FAIL_SPLIT[0][1], u < FAIL_SPLIT[0][1] + FAIL_SPLIT[1][1]],
        [FAIL_SPLIT[0][0], FAIL_SPLIT[1][0]],
        FAIL_SPLIT[2][0],
    ).astype(np.int32)
    value = np.round(rng.random(n) * 1000, 2)
    seq = np.arange(n, dtype=np.int64)
    topics, done = {}, {}
    value_sum = 0.0
    for i, name in enumerate(DRAIN_TOPICS):
        m = topic_of == i
        cols = {"seq": seq[m], "fail_times": fail[m]}
        if name == "api.Note":
            cols["memo"] = np.array([f"memo-{s}" for s in seq[m]], dtype=object)
        else:
            cols["value"] = value[m]
            value_sum += float(value[m][fail[m] < 3].sum())
        topics[name] = cols
        done[name + ".done"] = int((fail[m] < 3).sum())
    return DrainInput(topics, done, int((fail >= 3).sum()), value_sum)


# ----------------------------------------------------------------- inventory

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["small", "red", "blue", "large", "green", "steel"],
              ["ring", "widget", "bolt", "gear", "pipe", "valve"])
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DOCUMENTS = 500
EMBEDDINGS = 500
EMBED_DIM = 64
EMBED_LABELS = 10

_US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b, n) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def inventory_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(8, 95))
        texts.append(" ".join(rng.choice(VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, EMBEDDINGS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_inventory(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in inventory_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
