"""Unit tests for analytic operators beyond what the oracle suite covers:
as-of join directions/tolerance, range join, IVF recall sanity,
multimodal decode error capture + frame sampling."""

from __future__ import annotations

import pyspark.sql.functions as F

from typebus_spark.operators.asof import asof_join, range_join
from typebus_spark.operators.multimodal import (
    attach_blob,
    blob_stats,
    decode_media,
    frame_sample,
)
from typebus_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    train_centroids,
)


def _trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:05", 100.0),
            ("A", "2024-01-01 10:00:30", 101.0),
            ("B", "2024-01-01 10:00:10", 50.0),
        ],
        "sym string, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 99.5),
            ("A", "2024-01-01 10:00:20", 100.5),
            ("B", "2024-01-01 10:00:50", 49.9),
        ],
        "sym string, ts string, bid double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return trades, quotes


def test_asof_backward(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts")
    rows = {(r["sym"], str(r["ts"])): r for r in out.collect()}
    assert rows[("A", "2024-01-01 10:00:05")]["r_bid"] == 99.5
    assert rows[("A", "2024-01-01 10:00:30")]["r_bid"] == 100.5
    assert rows[("B", "2024-01-01 10:00:10")]["r_bid"] is None  # no prior quote


def test_asof_forward_and_tolerance(spark):
    trades, quotes = _trades_quotes(spark)
    fwd = asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="ts",
        direction="forward",
    )
    rows = {(r["sym"], str(r["ts"])): r for r in fwd.collect()}
    assert rows[("A", "2024-01-01 10:00:05")]["r_bid"] == 100.5  # next quote
    assert rows[("B", "2024-01-01 10:00:10")]["r_bid"] == 49.9
    tol = asof_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="ts",
        tolerance_seconds=6,
    )
    rows = {(r["sym"], str(r["ts"])): r for r in tol.collect()}
    assert rows[("A", "2024-01-01 10:00:05")]["r_bid"] == 99.5  # 5s ≤ 6s
    assert rows[("A", "2024-01-01 10:00:30")]["r_bid"] is None  # 10s > 6s


def test_range_join(spark):
    trades, quotes = _trades_quotes(spark)
    out = range_join(
        trades, quotes, on="sym", left_ts="ts", right_ts="ts",
        lower_seconds=-10, upper_seconds=0,
    )
    # quotes within [trade-10s, trade]; colliding right cols arrive r_-prefixed
    got = {(r["sym"], r["px"], r["bid"]) for r in out.collect()}
    assert ("A", 100.0, 99.5) in got  # 5s before trade
    assert ("A", 101.0, 100.5) in got  # 10s before trade
    assert not any(s == "B" for s, _, _ in got)  # B's quote is after


def test_ivf_recall_vs_brute(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = e.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    brute = cosine_topk(q, c, k=3)
    cents = train_centroids(e, "embedding", 4, seed=7)
    approx = ivf_topk(q, c, k=3, centroids=cents, nprobe=2)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.4  # 2/4 buckets probed; sanity floor, not a quality bar
    assert approx.count() <= 15  # k per query max


def test_multimodal_decode_and_frames(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    media = attach_blob(docs, "text", "video/fake", "doc_id")
    stats = blob_stats(media, "doc_id")
    r = {x["doc_id"]: x for x in stats.collect()}
    assert r[1]["n_bytes"] == 11
    decoded = decode_media(media, "doc_id")
    d = {x["doc_id"]: x for x in decoded.collect()}
    assert d[1]["decode_error"] is None
    assert d[1]["width"] >= 16 and len(d[1]["features"]) == 8
    assert d[2]["decode_error"] is not None  # null blob captured per-row
    # deterministic fake: same blob → same dims
    d2 = {x["doc_id"]: x for x in decode_media(media, "doc_id").collect()}
    assert d2[1]["width"] == d[1]["width"]
    frames = frame_sample(decoded, "doc_id", every_n=2)
    assert frames.filter(F.col("doc_id") == 1).count() >= 1


def test_decode_media_real_decoder_runs_stdlib_codecs(spark):
    """decoder='real' now runs the pure-stdlib PNG/WAV codecs inside
    mapInPandas; only genuinely unsupported MIME types degrade to
    per-row decode_error (never task-fatal)."""
    import base64

    from typebus_spark.operators._media_fixtures import MEDIA_FIXTURES

    fx = MEDIA_FIXTURES[0]  # png_gray_9x7
    docs = spark.createDataFrame(
        [
            (1, bytearray(base64.b64decode(fx["b64"])), "image/png"),
            (2, bytearray(b"x"), "video/mp4"),
        ],
        "doc_id long, blob binary, mime string",
    )
    media = docs.select(
        "doc_id",
        F.struct(
            F.col("blob"), F.col("mime"),
            F.create_map(F.lit("k"), F.lit("v")).alias("meta"),
        ).alias("media"),
    )
    d = {
        r["doc_id"]: r
        for r in decode_media(media, "doc_id", decoder="real").collect()
    }
    assert d[1]["decode_error"] is None
    assert (d[1]["width"], d[1]["height"]) == (
        fx["decoded"]["width"],
        fx["decoded"]["height"],
    )
    assert d[2]["decode_error"] is not None
    assert "video/mp4" in d[2]["decode_error"]


def test_resize_media_unhashable_blob_lands_in_error(spark):
    """Never-task-fatal contract: a custom decoder that TOLERATES a
    None blob must not crash the task at the sha256 step — the row
    lands in resize_error like any decode failure."""
    from typebus_spark.operators.multimodal import attach_blob, resize_media

    docs = spark.createDataFrame(
        [(1, "ok row"), (2, None)], "doc_id long, text string"
    )
    media = attach_blob(docs, "text", "image/fake", "doc_id")

    def tolerant(blob, mime):  # accepts None, returns dims anyway
        return {"width": 4, "height": 4}

    r = {
        x["doc_id"]: x
        for x in resize_media(
            media, "doc_id", decoder=tolerant
        ).collect()
    }
    assert r[1]["resize_error"] is None and r[1]["resized_sha"]
    assert r[2]["resized_sha"] is None
    assert r[2]["resize_error"] is not None


def test_media_memo_runs_codec_once_per_distinct_blob(spark):
    """The media-map stage's per-Arrow-batch memo: in one batch, a
    custom codec runs once per distinct (blob, mime) — for decode_media
    and for resize_media's custom-decoder path — and a null blob lands
    in the operator's *_error column."""
    from typebus_spark.operators.multimodal import attach_blob, resize_media

    docs = spark.createDataFrame(
        list(enumerate(["aa"] * 3 + ["bbbb"] * 3 + [None])),
        "doc_id long, text string",
    ).coalesce(1)  # one partition, so one Arrow batch
    media = attach_blob(docs, "text", "image/fake", "doc_id")

    def counting_codec(calls):
        def codec(blob, mime):
            if blob is None:
                raise ValueError("null blob")
            calls.add(1)
            return {"width": 8 * len(blob), "height": 8, "n_frames": 1,
                    "features": [float(len(blob))]}

        return codec

    for op, err in (
        (lambda c: decode_media(media, "doc_id", decoder=c), "decode_error"),
        (lambda c: resize_media(media, "doc_id", decoder=c), "resize_error"),
    ):
        calls = spark.sparkContext.accumulator(0)
        rows = {r["doc_id"]: r for r in op(counting_codec(calls)).collect()}
        assert calls.value == 2, (err, calls.value)
        assert all(rows[i][err] is None for i in range(6)), err
        assert {rows[i]["width"] for i in range(6)} == {16, 32}, err
        assert rows[6][err] == "ValueError: null blob", err
        assert rows[6]["width"] is None, err


def test_hash_split_deterministic_disjoint(spark, sf_dir):
    """hash_split: every row lands in exactly one split, assignment is
    stable across reruns/partitionings, and fractions are honored
    approximately (hash uniformity)."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.sampling import hash_sample, hash_split
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = hash_split(docs, "doc_id", splits)
    counts = {
        r["split"]: r["n"]
        for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert total == docs.count()  # exhaustive + disjoint (one row, one split)
    assert 0.7 < counts["train"] / total < 0.9
    # stability: different partitioning, same assignment
    s2 = hash_split(docs.repartition(7), "doc_id", splits)
    diff = (
        s1.select("doc_id", "split")
        .exceptAll(s2.select("doc_id", "split"))
        .count()
    )
    assert diff == 0
    # hash_sample is a prefix of the same bucket space: a 10% sample is a
    # subset of the 20% sample
    s10 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.1).collect()}
    s20 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).collect()}
    assert s10 <= s20 and len(s10) > 0


def test_contamination_report_finds_cross_split_ngram_overlap(spark):
    """A train doc sharing an 8-gram with a test doc is flagged; docs
    sharing nothing (or sharing only within-split) are not."""
    from typebus_spark.operators.corpus_stats import contamination_report

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail tokens here", "train"),
            (2, "totally different words with no overlap at all", "train"),
            (3, f"prefix {shared}", "test"),
            (4, "another unrelated held out document text", "test"),
            (5, f"{shared} but in val", "val"),
        ],
        "doc_id long, text string, split string",
    )
    rows = contamination_report(docs, "doc_id", "text", shingle_n=8).collect()
    assert [(r.train_doc_id, r.n_test_docs) for r in rows] == [(1, 1)]
    assert rows[0].max_shared == rows[0].total_shared == 1


def test_contamination_max_shingle_freq_drops_hub_shingles(spark):
    """A shingle present in more docs than the cap contributes no pairs."""
    from typebus_spark.operators.corpus_stats import contamination_report

    boiler = "common header repeated on every single page okay"
    docs = spark.createDataFrame(
        [(i, boiler, "train" if i % 2 else "test") for i in range(6)],
        "doc_id long, text string, split string",
    )
    assert (
        contamination_report(
            docs, "doc_id", "text", shingle_n=8, max_shingle_freq=3
        ).count()
        == 0
    )


def test_top_ngrams_doc_frequency_and_tiebreak(spark):
    from typebus_spark.operators.corpus_stats import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c x y"),
            (3, "a b c d e"),
        ],
        "doc_id long, text string",
    )
    rows = top_ngrams(docs, "doc_id", "text", n=3, k=2).collect()
    # 'a b c' in all 3 docs; 'b c d'/'c d e' in 2 — lexicographic tiebreak
    assert [(r.shingle, r.doc_freq) for r in rows] == [
        ("a b c", 3),
        ("b c d", 2),
    ]


def test_repetition_stats_counts_duplicate_ngrams(spark):
    from typebus_spark.operators.corpus_stats import repetition_stats

    docs = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "a b c d")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, "doc_id", "text", n=2).collect()}
    # doc 1 bigrams: xy yx xy yx xy -> 5 total, 2 distinct, 3 repeated
    assert (rows[1].n_ngrams, rows[1].n_distinct, rows[1].n_repeated) == (5, 2, 3)
    assert (rows[2].n_ngrams, rows[2].n_distinct, rows[2].n_repeated) == (3, 3, 0)


def test_connected_components_chain_clique_and_pair(spark):
    from typebus_spark.operators.clustering import connected_components

    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11), (10, 12), (11, 12),
            (20, 21),
        ],
        "a long, b long",
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert got == want


def test_int8_quantize_roundtrip_error_bound(spark):
    """Per-element reconstruction error must be <= scale/254 (half an
    int8 step) for every vector, and a zero vector must quantize to
    exact zeros."""
    import random

    import pyspark.sql.functions as FF

    from typebus_spark.functions.vector import int8_dequantize, int8_quantize

    rng = random.Random(7)
    rows = [
        ([rng.uniform(-2.0, 2.0) for _ in range(16)],) for _ in range(200)
    ] + [([0.0] * 16,)]
    df = spark.createDataFrame(rows, "v array<double>")
    qs = int8_quantize("v")
    deq = int8_dequantize(qs)
    err = FF.zip_with("v", deq, lambda x, y: FF.abs(x - y))
    bad = df.select(
        qs.getField("scale").alias("s"),
        FF.array_max(err).alias("e"),
    ).filter(FF.col("e") > FF.col("s") / 254.0 + 1e-9)
    assert bad.count() == 0
    zero = df.filter(FF.array_max(FF.transform("v", FF.abs)) == 0).select(
        FF.array_max(FF.transform(qs.getField("q"), FF.abs)).alias("m")
    ).collect()
    assert all(r["m"] == 0 for r in zero)


def test_dedup_spans_identity_without_cross_doc_dups(spark):
    """With an unreachable min_docs the reconstruction must be exactly
    the input text (single-space tokenized), and nothing is removed."""
    from typebus_spark.operators.dedup import dedup_spans

    rows = [
        (1, "alpha beta gamma delta " * 10 + "tail"),
        (2, "one two three four five " * 8 + "end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_spans(df, "doc_id", "text", chunk_tokens=5, min_docs=99)
    got = {r["doc_id"]: r for r in out.collect()}
    for i, txt in rows:
        assert got[i]["n_removed"] == 0
        assert got[i]["cleaned_text"] == txt


def test_dedup_spans_removes_shared_chunks(spark):
    """A chunk shared verbatim by two docs is cut from BOTH."""
    from typebus_spark.operators.dedup import dedup_spans

    shared = "s1 s2 s3 s4 s5"
    rows = [
        (1, shared + " a1 a2 a3 a4 a5"),
        (2, shared + " b1 b2 b3 b4 b5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_spans(df, "doc_id", "text", chunk_tokens=5, min_docs=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_removed"] == 1 and got[2]["n_removed"] == 1
    assert got[1]["cleaned_text"] == "a1 a2 a3 a4 a5"
    assert got[2]["cleaned_text"] == "b1 b2 b3 b4 b5"


def test_shingle_index_keys_are_hashed_bigints(spark, sf_dir):
    """The inverted shingle index must carry the 60-bit integer key,
    not raw n-gram strings — the property that keeps the exact-Jaccard
    family's shuffles ~5x smaller (operators/dedup.distinct_shingles).
    A regression to StringType would still pass every oracle (the
    oracles hash identically), so pin the type here."""
    from pyspark.sql.types import LongType

    from typebus_spark.operators.dedup import distinct_shingles
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = distinct_shingles(docs, "doc_id", "text", 8)
    assert isinstance(sh.schema["shingle"].dataType, LongType)


def test_money_and_dot_accept_reserved_word_columns(spark):
    """cents()/dot_lit_sql() interpolate column names into SQL text;
    they must backtick-quote so SQL reserved words ('order', 'from')
    parse (ADVICE r4: isidentifier() admits reserved words)."""
    from typebus_spark.functions.money import cents
    from typebus_spark.functions.vector import dot_lit_sql

    df = spark.createDataFrame([(1.25,), (2.50,)], ["order"])
    got = sorted(r[0] for r in df.select(cents("order")).collect())
    assert got == [125, 250]

    vdf = spark.createDataFrame([([1.0, 2.0],)], ["from"])
    out = vdf.selectExpr(f"{dot_lit_sql('from', [3.0, 4.0])} AS d").collect()
    assert out[0].d == 11.0


def test_chunk_tokens_windows_and_overlap(spark):
    from typebus_spark.operators.text_analysis import chunk_tokens

    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks), (2, "one two")], ["id", "text"])
    out = chunk_tokens(df, "id", "text", window=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    # doc 1: 10 tokens, starts 0,3,6,9 -> sizes 4,4,4,1
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in d1] == [0, 1, 2, 3]
    assert [r.n_tokens for r in d1] == [4, 4, 4, 1]
    # doc 2: 2 tokens -> one chunk of 2
    assert [(r.chunk_id, r.n_tokens) for r in by_doc[2]] == [(0, 2)]
    # overlap: chunk 1 of doc 1 starts at t3 (stride 3, window 4 -> t3..t6)
    import hashlib

    expected = hashlib.md5("t3 t4 t5 t6".encode()).hexdigest()
    assert d1[1].chunk_hash == expected

    import pytest

    with pytest.raises(ValueError):
        chunk_tokens(df, "id", "text", window=4, stride=5)


def test_leakage_safe_split_keeps_families_together(spark, sf_dir):
    """The property the query exists for: NO near-dup pair may cross a
    split boundary (the naive per-doc split does allow this)."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.clustering import connected_components
    from typebus_spark.operators.dedup import jaccard_pairs
    from typebus_spark.operators.sampling import hash_split
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_n=8, threshold=0.5)
    cc = connected_components(pairs, "a", "b")
    fam = docs.select("doc_id").join(cc, "doc_id", "left_outer").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("family")
    )
    split = hash_split(
        fam, "family", {"train": 0.90, "val": 0.05, "test": 0.05}, seed=42
    ).select("doc_id", "split")
    crossers = (
        pairs.join(
            split.withColumnRenamed("doc_id", "a").withColumnRenamed(
                "split", "sa"
            ),
            "a",
        )
        .join(
            split.withColumnRenamed("doc_id", "b").withColumnRenamed(
                "split", "sb"
            ),
            "b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossers == 0
    # and the split is non-degenerate at smoke SF
    names = {r.split for r in split.select("split").distinct().collect()}
    assert "train" in names and len(names) >= 2


def test_chunk_tokens_partition_and_coverage_properties(spark):
    """Invariants across window/stride combos: (a) at stride == window
    the chunks PARTITION the token sequence exactly (sizes sum to n,
    all but the last are full windows); (b) with overlap, chunk k
    starts at k*stride and covers min(window, n - k*stride) tokens, so
    every token index is covered and consecutive chunks share exactly
    window - stride tokens while both are full."""
    import math

    rows = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, n in enumerate([1, 3, 7, 8, 9, 16, 23])]
    df = spark.createDataFrame(rows, ["id", "text"])
    from typebus_spark.operators.text_analysis import chunk_tokens

    for window, stride in [(8, 8), (8, 5), (4, 1), (5, 5), (16, 12)]:
        out = chunk_tokens(df, "id", "text", window=window, stride=stride)
        got = {}
        for r in out.collect():
            got.setdefault(r.id, {})[r.chunk_id] = r.n_tokens
        for i, n in enumerate([1, 3, 7, 8, 9, 16, 23]):
            chunks = got[i]
            n_chunks = max(1, math.ceil(n / stride))
            assert set(chunks) == set(range(n_chunks)), (window, stride, n)
            for k in range(n_chunks):
                expect = min(window, n - k * stride)
                assert chunks[k] == expect, (window, stride, n, k)
            if stride == window:
                assert sum(chunks.values()) == n  # exact partition


def test_heavy_hitters_exact_on_skewed_keys(spark):
    """heavy_hitters: sketch candidates are a superset, the verify pass
    makes the output EXACT — equal to the brute-force groupBy/HAVING on
    a zipfian key set, with false positives filtered out."""
    from typebus_spark.operators.sketch import heavy_hitters

    rows = (
        [("hot",)] * 400
        + [("warm",)] * 60
        + [(f"cold{i}",) for i in range(540)]
    )
    df = spark.createDataFrame(rows, "k string")
    # threshold 1/20 of 1000 rows = 50: hot (400) and warm (60) pass
    got = {
        (r.k, r.n) for r in heavy_hitters(df, "k", num=1, den=20).collect()
    }
    assert got == {("hot", 400), ("warm", 60)}
    # tighter threshold drops warm (60 <= 1000/10)
    got = {
        (r.k, r.n) for r in heavy_hitters(df, "k", num=1, den=10).collect()
    }
    assert got == {("hot", 400)}
    # empty result when nothing crosses the bar; still exact, no error
    assert heavy_hitters(df, "k", num=1, den=2).count() == 0


def test_heavy_hitters_plan_bounded(spark):
    """The verify pass scans the keyed stream ONCE and shuffles only
    the candidate groups — no cartesian, no global sort, no second
    subtree re-scanning the input."""
    from typebus_spark.operators.sketch import heavy_hitters
    from typebus_spark.plans.checks import formatted_plan, has_global_sort

    df = spark.createDataFrame(
        [("a",)] * 50 + [(f"t{i}",) for i in range(50)], "k string"
    )
    hh = heavy_hitters(df, "k", num=1, den=4)
    plan = formatted_plan(hh)
    assert "CartesianProduct" not in plan
    assert not has_global_sort(hh)
    # exactly one scan of the input in the verify plan (the sketch pass
    # already ran at build time)
    assert plan.count("Scan ") <= 2  # scan + possible reuse line


def test_bpe_train_merges_hand_example(spark):
    """Tiny hand-computed corpus: words aa(x3), ab(x2). Round 1 merges
    'a a' (weight 3); round 2's only remaining pair is 'a b' (weight 2);
    round 3 finds no pairs and the trainer stops early."""
    from typebus_spark.operators.text_analysis import bpe_train_merges

    df = spark.createDataFrame(
        [("aa ab aa",), ("ab aa",)], schema="text string"
    )
    merges = bpe_train_merges(df, "text", n_merges=4)
    assert merges == [(1, "a a", 3), (2, "a b", 2)]


def test_dsir_weights_discriminate_target_domain(spark, sf_dir):
    """Target-domain (src0) documents must score higher importance on
    average than the rest — the whole point of the LM ratio. Exact
    BIGINT weights make the comparison noise-free."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.corpus_stats import dsir_logweights
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_logweights(
        docs, "doc_id", "text", target_filter=(F.col("source") == "src0")
    ).join(docs.select("doc_id", "source"), "doc_id")
    rows = (
        w.withColumn("is_t", (F.col("source") == "src0").cast("long"))
        .groupBy("is_t")
        .agg((F.sum("logweight") / F.sum("n_toks")).alias("per_tok"))
        .collect()
    )
    per_tok = {int(r["is_t"]): float(r["per_tok"]) for r in rows}
    assert per_tok[1] > per_tok[0], per_tok


def test_rebalance_audit_zero_survivor_group(spark):
    """A group the sample empties must still report its REAL n_before
    and sample_thr (n_after = id_checksum = 0) — deriving the audit
    from surviving rows would emit NULL thresholds for zeroed groups
    and diverge from the DuckDB oracle's threshold CTE (round-7
    ADVICE). doc_ids 3/6/8/10 hash (seed=7) to buckets 7855/7742/8553/
    9736, all >= the group's threshold round(10000*5/(2*4)) = 6250, so
    group 'over' keeps zero rows by construction."""
    from typebus_spark.operators.sampling import rebalance_audit

    df = spark.createDataFrame(
        [(3, "over"), (6, "over"), (8, "over"), (10, "over"),
         (3000, "tiny")],
        schema="doc_id long, source string",
    )
    rows = {
        r["source"]: r
        for r in rebalance_audit(df, "doc_id", "source", seed=7).collect()
    }
    over = rows["over"]
    assert over["n_before"] == 4
    assert over["sample_thr"] == 6250
    assert over["n_after"] == 0 and over["id_checksum"] == 0
    # the under-represented group is capped at keep-everything
    tiny = rows["tiny"]
    assert tiny["sample_thr"] == 10000
    assert tiny["n_after"] == 1 and tiny["id_checksum"] == 3000


def test_bpe_train_merges_quote_safe(spark):
    """Corpus words containing quotes/backslashes must not break the
    merge-application plan (the learned symbols splice in as F.lit
    VALUES, never as SQL-literal text)."""
    from typebus_spark.operators.text_analysis import bpe_train_merges

    df = spark.createDataFrame(
        [("don't don't can't",), ("don't o'clock a\\b a\\b",)],
        schema="text string",
    )
    merges = bpe_train_merges(df, "text", n_merges=3)
    assert merges and merges[0][1] == "' t", merges


def test_bpe_merge_counts_non_increasing(spark, sf_dir):
    """Each round takes the GLOBAL max pair count, and a merge can only
    create pairs bounded by its constituents' counts — so the learned
    counts are non-increasing (the standard BPE trainer invariant; a
    broken re-tokenization between rounds violates it)."""
    from typebus_spark.operators.text_analysis import bpe_train_merges
    from typebus_spark.session import load_table

    merges = bpe_train_merges(
        load_table(spark, sf_dir, "documents"), "text", n_merges=4
    )
    counts = [n for _, _, n in merges]
    assert counts == sorted(counts, reverse=True), merges


def test_reservoir_stable_under_repartition(spark, sf_dir):
    """The per-group reservoir must be a pure function of (seed, id,
    group) — the same sample regardless of input partitioning."""
    from typebus_spark.operators.sampling import reservoir_per_group
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = {
        (r.source, r.doc_id)
        for r in reservoir_per_group(docs, "doc_id", "source", k=5).collect()
    }
    b = {
        (r.source, r.doc_id)
        for r in reservoir_per_group(
            docs.repartition(17, "doc_id"), "doc_id", "source", k=5
        ).collect()
    }
    assert a == b
    per_group: dict = {}
    for src, _ in a:
        per_group[src] = per_group.get(src, 0) + 1
    assert all(v <= 5 for v in per_group.values()), per_group


def test_minhash_incremental_matches_full_subset(spark, sf_dir):
    """minhash_lsh_incremental must produce exactly the delta-involving
    subset of the full-corpus pairs (per-doc signatures are
    frame-independent), with delta-delta pairs once and delta-history
    pairs oriented (delta, history)."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(shingle_n=5, num_hashes=16, bands=4, threshold=0.4)
    full = {
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
    }
    inc = minhash_lsh_incremental(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        **kw,
    ).collect()
    # normalize both to unordered pairs for comparison
    want = {
        frozenset((a, b)): j for a, b, j in full
        if a % 10 == 0 or b % 10 == 0
    }
    got = {frozenset((r["a"], r["b"])): r["jaccard"] for r in inc}
    assert got == want
    for r in inc:
        assert r["a"] % 10 == 0  # left side is always a delta doc
        if r["dup_in"] == "delta":
            assert r["b"] % 10 == 0 and r["a"] < r["b"]
        else:
            assert r["b"] % 10 != 0


def test_dedup_substring_catches_offset_shifted_span(spark):
    """The ExactSubstr case: a 40-token span duplicated at DIFFERENT
    offsets in two docs. dedup_spans' fixed 20-token grid misaligns and
    removes nothing; content-defined chunking aligns the interior
    chunks and cuts the span from BOTH docs."""
    from typebus_spark.operators.dedup import dedup_spans, dedup_substrings

    span = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + span + " gamma"),
            (2, "x1 x2 x3 x4 x5 x6 x7 " + span + " tail tail2"),
            (3, "unrelated words entirely different content here"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: r["n_removed"]
        for r in dedup_spans(
            docs, "doc_id", "text", chunk_tokens=20, min_docs=2
        ).collect()
    }
    assert spans == {1: 0, 2: 0, 3: 0}  # the miss this operator fixes
    subs = {
        r["doc_id"]: r
        for r in dedup_substrings(
            docs, "doc_id", "text",
            target_chunk_tokens=8, min_docs=2, min_chunk_tokens=4,
        ).collect()
    }
    assert subs[1]["n_removed"] > 0 and subs[2]["n_removed"] > 0
    assert subs[3]["n_removed"] == 0
    assert subs[3]["cleaned_text"] == (
        "unrelated words entirely different content here"
    )
    # the removed chunks are the SAME interior span chunks in both docs
    # → surviving text keeps each doc's unique surroundings
    assert subs[1]["cleaned_text"].startswith("alpha beta")
    assert subs[1]["cleaned_text"].endswith("gamma")
    assert subs[2]["cleaned_text"].startswith("x1 x2")
    assert "w20" not in subs[1]["cleaned_text"]
    assert "w20" not in subs[2]["cleaned_text"]


def test_dedup_substring_keep_first_retains_canonical(spark):
    """keep_first=True: the duplicated span survives in the min-id doc
    and is cut from the other; default policy cuts both."""
    from typebus_spark.operators.dedup import dedup_substrings

    span = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + span + " gamma"),
            (2, "x1 x2 x3 x4 x5 x6 x7 " + span + " tail tail2"),
        ],
        "doc_id long, text string",
    )
    kw = dict(target_chunk_tokens=8, min_docs=2, min_chunk_tokens=4)
    first = {
        r["doc_id"]: r
        for r in dedup_substrings(
            docs, "doc_id", "text", keep_first=True, **kw
        ).collect()
    }
    assert first[1]["n_removed"] == 0  # canonical keeps everything
    assert first[2]["n_removed"] > 0
    assert "w20" in first[1]["cleaned_text"]
    assert "w20" not in first[2]["cleaned_text"]
    both = {
        r["doc_id"]: r
        for r in dedup_substrings(docs, "doc_id", "text", **kw).collect()
    }
    assert both[1]["n_removed"] == first[2]["n_removed"]  # same chunks cut
    assert "w20" not in both[1]["cleaned_text"]


def test_cdc_chunks_offset_invariant(spark):
    """Interior chunk set of a span is identical whatever prefix
    precedes it (boundaries depend only on a 3-token window)."""
    from typebus_spark.operators.dedup import cdc_chunk_rows

    span = " ".join(f"s{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, span), (2, "p1 p2 p3 p4 p5 " + span)],
        "doc_id long, text string",
    )
    rows = cdc_chunk_rows(
        docs, "doc_id", "text", target_chunk_tokens=8
    ).collect()
    by_doc: dict = {1: set(), 2: set()}
    for r in rows:
        by_doc[r["_id"]].add(r["chunk"])
    shared = by_doc[1] & by_doc[2]
    # everything but the edge chunks aligns
    assert len(shared) >= len(by_doc[1]) - 2


def test_langid_ngram_heldout_accuracy(spark):
    """Char-3-gram centroid classifier: 100% on the held-out labeled
    fixture (18 sentences, 6 Latin-script languages — separable only
    by n-gram statistics, not character inventory), and scores are
    exact integers (micro-unit scheme) so the pin is deterministic."""
    from typebus_spark.operators._langid_fixture import (
        LANGID_TEST,
        LANGID_TRAIN,
    )
    from typebus_spark.operators.text_analysis import lang_id_ngram

    train = spark.createDataFrame(LANGID_TRAIN, "lang string, text string")
    test = spark.createDataFrame(
        [(i, l, t) for i, (l, t) in enumerate(LANGID_TEST)],
        "rid long, lang string, text string",
    )
    out = lang_id_ngram(test, "rid", "text", train)
    rows = out.join(test.select("rid", "lang"), "rid").collect()
    assert len(rows) == len(LANGID_TEST)
    wrong = [
        (r["rid"], r["lang"], r["pred_lang"])
        for r in rows
        if r["pred_lang"] != r["lang"]
    ]
    assert not wrong, wrong


def test_langid_frozen_profile_matches_live_training(spark):
    """The frozen profile literals (_langid_profile.py) must equal a
    LIVE training run on the fixture — exact integer compare (micro-
    unit scheme), the same live==frozen pin as the IVF codebook. Also
    guards the fixture fingerprint so editing the fixture without
    re-freezing trips here, not in the driver."""
    import hashlib

    from typebus_spark.operators import _langid_profile as fz
    from typebus_spark.operators._langid_fixture import LANGID_TRAIN
    from typebus_spark.operators.text_analysis import (
        LANGID_BUCKETS,
        LANGID_SEED,
        langid_train_profile,
    )

    assert fz.FIXTURE_FINGERPRINT == hashlib.md5(
        repr(LANGID_TRAIN).encode()
    ).hexdigest()
    assert (fz.BUCKETS, fz.SEED) == (LANGID_BUCKETS, LANGID_SEED)
    train = spark.createDataFrame(LANGID_TRAIN, "lang string, text string")
    delta, langs = langid_train_profile(train)
    live_delta = sorted((r["lang"], r["b"], r["d_u"]) for r in delta.collect())
    live_langs = sorted((r["lang"], r["def_u"]) for r in langs.collect())
    assert live_delta == [tuple(x) for x in fz.PROFILE_DELTA]
    assert live_langs == [tuple(x) for x in fz.PROFILE_LANGS]


def test_phash_near_pairs_banding_and_hamming(spark):
    """Band LSH over a phash catalog: pairs agreeing on >=1 of the 16
    hex-char bands AND within the hamming budget are emitted (with
    a < b and carried catalog columns); hashes differing in every band
    never pair. Pigeonhole: hamming <= 15 < 16 bands GUARANTEES a
    shared band. The hamming-8 pair spreading one bit into 8 DIFFERENT
    bands is the exact case the r9 4x16-bit banding silently missed
    (ADVICE r9 high) — it must pair now."""
    from typebus_spark.operators.multimodal import phash_near_pairs

    cat = spark.createDataFrame(
        [
            ("0000000000000000", 10),
            ("0000000000000001", 20),  # hamming 1 vs first
            ("00000000000000ff", 5),   # hamming 8 vs first, 2 bands hit
            # hamming 8 vs first, one bit in each of 8 bands — the r9
            # 4-band recall hole: every 16-bit band differed, pair lost
            ("1010101010101010", 3),
            ("ffffffffffffffff", 7),   # hamming 64, 0 shared bands
        ],
        "phash string, n_docs long",
    )
    got = {
        (r["a"], r["b"]): (r["hamming"], r["n_docs_a"], r["n_docs_b"])
        for r in phash_near_pairs(cat, max_hamming=8).collect()
    }
    assert got == {
        ("0000000000000000", "0000000000000001"): (1, 10, 20),
        ("0000000000000000", "00000000000000ff"): (8, 10, 5),
        ("0000000000000001", "00000000000000ff"): (7, 20, 5),
        ("0000000000000000", "1010101010101010"): (8, 10, 3),
        # 0...01 vs 101010...10: 9 differing bits > budget 8
        # 0...0ff vs 1010...10: 14 differing bits > budget 8
    }
    # tighter budget prunes the verify, banding recall still complete
    got2 = {
        (r["a"], r["b"])
        for r in phash_near_pairs(cat, max_hamming=1).collect()
    }
    assert got2 == {("0000000000000000", "0000000000000001")}
    # budgets past the pigeonhole bound are a silent recall hole — the
    # guard must refuse them instead
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        phash_near_pairs(cat, max_hamming=8, n_bands=4)


def test_minhash_incremental_reingest_same_id(spark, sf_dir):
    """Re-ingesting an UPDATED doc (same id in history and delta) must
    not self-pair against its own stale history copy, and the stale
    copy must not pollute the verify shingle union (double-counted
    sizes → wrong jaccard). The history row with a delta id is
    anti-joined away, so jaccard values equal a run where history never
    contained the id at all."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.dedup import minhash_lsh_incremental
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    kw = dict(shingle_n=5, num_hashes=16, bands=4, threshold=0.3)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    clean_hist = docs.filter(F.col("doc_id") % 10 != 0)
    # history contains a STALE copy of every delta doc (same id,
    # truncated text) on top of the clean rows
    stale = delta.withColumn(
        "text", F.substring("text", 1, 50)
    )
    dirty_hist = clean_hist.unionByName(stale.select(*clean_hist.columns))

    want = {
        (r["a"], r["b"], r["jaccard"], r["dup_in"])
        for r in minhash_lsh_incremental(
            clean_hist, delta, "doc_id", "text", **kw
        ).collect()
    }
    got = {
        (r["a"], r["b"], r["jaccard"], r["dup_in"])
        for r in minhash_lsh_incremental(
            dirty_hist, delta, "doc_id", "text", **kw
        ).collect()
    }
    assert got == want
    assert all(a != b for a, b, _, _ in got)


def test_bpe_encode_applies_merges_in_order(spark):
    """Encode must replay merges leftmost-first in TRAINING order: a
    word where merge 2 builds on merge 1's output tokenizes correctly,
    and token counts shrink monotonically as merges apply."""
    from typebus_spark.operators.text_analysis import (
        bpe_encode_token_counts,
    )

    docs = spark.createDataFrame(
        [(1, "hello hello help"), (2, "xy")], "doc_id long, text string"
    )
    none = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_encode_token_counts(
            docs, "doc_id", "text", []
        ).collect()
    }
    assert none == {1: 14, 2: 2}  # chars, no merges
    # 'h e' -> 'he', then 'he l' -> 'hel' (stacked merge)
    two = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_encode_token_counts(
            docs, "doc_id", "text", ["h e", "he l"]
        ).collect()
    }
    assert two == {1: 14 - 3 - 3, 2: 2}
    r1 = bpe_encode_token_counts(
        docs, "doc_id", "text", ["h e"]
    ).collect()
    assert {r["doc_id"]: r["n_tokens"] for r in r1} == {1: 11, 2: 2}


def test_dedup_substring_reconstruction_lossless(spark, sf_dir):
    """With min_docs above the corpus size nothing is cut, so the
    chunk-split + regroup must reproduce every document's token stream
    EXACTLY (whitespace-normalized) — pins the reconstruction path
    independent of the dup logic."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.dedup import dedup_substrings
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = dedup_substrings(
        docs, "doc_id", "text", min_docs=10_000
    )
    joined = out.join(docs, "doc_id").select(
        "doc_id",
        "n_removed",
        (
            F.col("cleaned_text")
            == F.array_join(F.split(F.trim("text"), r"\s+"), " ")
        ).alias("same"),
    ).collect()
    assert all(r["n_removed"] == 0 for r in joined)
    assert all(r["same"] for r in joined)


def test_repetition_fractions_flags_boilerplate_phrases(spark):
    """Gopher n-gram repetition: a doc that is one repeated 2-word
    phrase maxes top2_frac and accumulates duplicated-3-gram chars; a
    diverse doc keeps; docs under 3 tokens are excluded (no 3-gram)."""
    from typebus_spark.operators.text_analysis import repetition_fractions

    diverse = " ".join(f"w{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham"),
            (2, diverse),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_fractions(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2}  # doc 3 (<3 tokens) excluded
    # doc 1: tc=28 non-space chars; "spam ham" x4 covers 4*7=28 chars;
    # duplicated 3-grams: "spam ham spam" x3 (11 chars) + "ham spam ham"
    # x3 (10 chars) = 63 chars.
    assert out[1]["top2_frac"] == 1.0
    assert out[1]["dup3_frac"] == round(63 / 28, 6)
    assert out[1]["keep"] == 0 and out[1]["ok_top2"] == 0
    # doc 2: 30 distinct 4-char tokens, every gram unique -> top 2-gram
    # covers 8/120 chars, no duplicated 3-gram.
    assert out[2]["top2_frac"] == round(8 / 120, 6)
    assert out[2]["dup3_frac"] == 0.0
    assert out[2]["keep"] == 1 and out[2]["ok_dup3"] == 1


def test_embedding_dup_pairs_bare_call_raises(spark):
    """The planeless form is an exact all-pairs crossJoin (corpus^2):
    the bare call must raise so no future caller ships a quadratic
    plan by default (r10 verdict item 4); the explicit opt-in still
    works for small baseline corpora and agrees with the LSH form's
    above-threshold pairs on a bucketing-friendly fixture."""
    import pytest as _pytest

    from typebus_spark.operators.dedup import embedding_dup_pairs

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),   # ~same direction as 1
            (3, [-1.0, 0.0]),     # opposite
        ],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="allow_quadratic"):
        embedding_dup_pairs(vecs, "vec_id", "embedding", threshold=0.9)

    exact = embedding_dup_pairs(
        vecs, "vec_id", "embedding", threshold=0.9, allow_quadratic=True
    ).collect()
    assert [(r["a"], r["b"]) for r in exact] == [(1, 2)]

    # one hyperplane separating +x from -x buckets 1,2 together
    lsh = embedding_dup_pairs(
        vecs, "vec_id", "embedding", threshold=0.9, planes=[[1.0, 0.0]]
    ).collect()
    assert [(r["a"], r["b"]) for r in lsh] == [(1, 2)]


def test_url_normalize_and_registrable_domain(spark):
    """normalize_url: fragment/utm/default-port/trailing-slash stripped,
    scheme+host lowercased, path case and non-utm queries preserved
    IN PLACE (r11 ADVICE: individual utm params strip, the rest of the
    query survives; :443 strips from https only), subdomains kept.
    registrable_domain: true PSL algorithm over the frozen snapshot —
    plain/wildcard/exception rules, longest match, default-* fallback;
    label-less hosts and bare public suffixes pass through."""
    from typebus_spark.operators.url_curation import (
        normalize_url,
        registrable_domain,
        url_host,
    )

    urls = [
        ("HTTPS://WWW.Example.COM:443/Path/A/?utm_campaign=x#frag",
         "https://www.example.com/Path/A"),
        ("https://example.com/a?q=1", "https://example.com/a?q=1"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        # :443 is NOT http's default port — must survive (r11 ADVICE)
        ("http://example.com:443/a", "http://example.com:443/a"),
        # a port merely STARTING with 443 must survive whole (r12
        # ADVICE: the unanchored regex turned x.com:4430 into x.com0)
        ("https://x.com:4430/a", "https://x.com:4430/a"),
        ("https://x.com:44300", "https://x.com:44300"),
        # :443 at end-of-string still strips
        ("https://x.com:443", "https://x.com"),
        ("https://x.com:443?q=1", "https://x.com?q=1"),
        ("https://sub.x.co.uk/p/", "https://sub.x.co.uk/p"),
        # individual utm strip, non-tracking params preserved in place
        ("https://x.com/p?utm_source=a&page=2", "https://x.com/p?page=2"),
        ("https://x.com/p?page=2&utm_source=a", "https://x.com/p?page=2"),
        ("https://x.com/p?utm_a=1&utm_b=2&page=2",
         "https://x.com/p?page=2"),
        ("https://x.com/p?utm_a=1&utm_b=2", "https://x.com/p"),
    ]
    df = spark.createDataFrame(urls, "u string, want string")
    bad = df.filter(normalize_url("u") != F.col("want")).collect()
    assert not bad, [(r["u"], r["want"]) for r in bad]

    hosts = [
        ("www.example.com", "example.com"),
        ("a.b.example.co.uk", "example.co.uk"),
        ("user.github.io", "user.github.io"),
        ("deep.sub.user.github.io", "user.github.io"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        # 3-label plain suffix
        ("a.blogspot.co.uk", "a.blogspot.co.uk"),
        ("deep.a.blogspot.co.uk", "a.blogspot.co.uk"),
        ("x.mysite.s3.amazonaws.com", "mysite.s3.amazonaws.com"),
        # wildcard *.kobe.jp: every child is itself a suffix
        ("w.x.y.kobe.jp", "x.y.kobe.jp"),
        ("x.y.kobe.jp", "x.y.kobe.jp"),  # IS a suffix: pass-through
        # exception !city.kobe.jp punches through the wildcard
        ("sub.city.kobe.jp", "city.kobe.jp"),
        ("city.kobe.jp", "city.kobe.jp"),
        # wildcard *.ck + exception !www.ck
        ("b.a.foo.ck", "a.foo.ck"),
        ("a.www.ck", "www.ck"),
        # unknown TLD → PSL default '*' rule → last two labels
        ("a.b.x.unknowntld", "x.unknowntld"),
    ]
    hdf = spark.createDataFrame(hosts, "h string, want string")
    bad = hdf.filter(registrable_domain("h") != F.col("want")).collect()
    assert not bad, [(r["h"], r["want"]) for r in bad]

    # host extraction drops port and lowercases
    one = spark.createDataFrame(
        [("HTTPS://A.B.COM:443/x?y#z",)], "u string"
    ).select(url_host("u").alias("h")).first()
    assert one["h"] == "a.b.com"

    # DuckDB dialect parity (r12 ADVICE: the duckdb branch of
    # psl_registrable_sql was never exercised — the q_domain_psl
    # oracle is closed-form): feed the same host list through both
    # dialect forms and assert row-for-row equality, covering the
    # ||-vs-concat NULL propagation and list_extract negative indexing.
    import duckdb

    from typebus_spark.operators.url_curation import psl_registrable_sql

    host_list = [h for h, _ in hosts]
    want_list = [w for _, w in hosts]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE hosts AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{h}')" for i, h in enumerate(host_list))
        + ") AS t(i, h)"
    )
    dgot = [
        r[0]
        for r in con.execute(
            "SELECT " + psl_registrable_sql("h", "duckdb")
            + " FROM hosts ORDER BY i"
        ).fetchall()
    ]
    assert dgot == want_list, list(zip(host_list, dgot, want_list))


def test_exact_url_dedup_and_domain_caps(spark):
    """exact_url_dedup collapses normalization-equal URLs keeping the
    lowest id; domain_caps drops blocklisted domains and keeps at most
    cap rows per registrable domain (deterministic md5 rank)."""
    from typebus_spark.operators.url_curation import (
        domain_caps,
        exact_url_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "https://a.com/x"),
            (2, "https://a.com/x#frag"),       # same after normalize
            (3, "https://a.com/x/"),            # same after normalize
            (4, "https://a.com/y"),
            (5, "https://www.a.com/x"),         # different (subdomain)
            (6, "https://bad.org/z"),
        ],
        "doc_id long, url string",
    )
    ded = exact_url_dedup(df, "url", "doc_id")
    got = {r["url"]: r["doc_id"] for r in ded.collect()}
    assert got["https://a.com/x"] == 1  # lowest id kept
    assert len(got) == 4

    capped_df = domain_caps(
        ded, "url", "doc_id", cap=2, blocklist=("bad.org",)
    )
    # rank-then-filter must plan as WindowGroupLimit (per-partition
    # partial top-k): a hub domain shuffles O(partitions*cap) rows,
    # never its full row count
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    capped = capped_df.collect()
    assert all(r["domain"] == "a.com" for r in capped)
    assert len(capped) == 2 and all(r["rk"] <= 2 for r in capped)


def test_curate_urls_single_scan_plan(spark, sf_dir):
    """q_domain_caps plan shape: ONE documents scan (the r9 single-scan
    rule — per-URL counts, dedup and the cap all derive from one
    grouped frame), no cartesian, window rank feeds the final aggregate
    without an extra corpus read."""
    from typebus_spark.suite import QUERIES

    df = QUERIES["q_domain_caps"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan, plan
    # column pruning reaches the scan: the synth-URL projection needs
    # only (doc_id, source) — the text column never leaves the parquet
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan, plan
    rows = df.collect()
    assert rows and all(
        r["n_kept"] <= min(3, r["n_urls"]) and r["n_urls"] <= r["n_docs"]
        for r in rows
    )
    assert not [r for r in rows if r["domain"] in ("src0.com", "src3.co.uk")]


def test_domain_caps_dataframe_blocklist_broadcast_anti(spark):
    """A DataFrame blocklist (the 10^5+-domain scale path) gates via a
    broadcast LEFT ANTI join — same drop set as the literal NOT IN
    form, and the plan carries BroadcastHashJoin LeftAnti rather than
    an in-plan literal list."""
    from typebus_spark.operators.url_curation import domain_caps

    df = spark.createDataFrame(
        [
            (1, "https://a.com/x"),
            (2, "https://bad.org/z"),
            (3, "https://b.net/y"),
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("bad.org",)], "domain string")
    out = domain_caps(df, "url", "doc_id", cap=5, blocklist=bl)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    got = {r["domain"] for r in out.collect()}
    assert got == {"a.com", "b.net"}
    # literal form drops the same set
    lit = domain_caps(df, "url", "doc_id", cap=5, blocklist=("bad.org",))
    assert {r["domain"] for r in lit.collect()} == got


def test_html_extract_text_and_boilerplate(spark):
    """extract_text: script/style/comment contents dropped, tags
    stripped, the six entities decoded (&amp; last), whitespace
    collapsed. Boilerplate: link-density filter drops link-only lines,
    keeps text lines; an all-boilerplate page yields '' (not NULL) on
    both engines (the DuckDB empty-list coalesce)."""
    import duckdb

    from typebus_spark.operators.html_extract import (
        boilerplate_counts_sql,
        drop_boilerplate_sql,
        extract_text,
        extract_text_sql,
    )

    rows = [
        ("<p>a &amp;&amp; b</p>", "a && b"),
        ("<script>var x = 1 < 2;</script>ok", "ok"),
        ("<style>p > a</style>text", "text"),
        ("<!-- secret -->shown", "shown"),
        ("a&lt;b&gt;c &quot;d&quot; &#39;e&#39;&nbsp;f",
         "a<b>c \"d\" 'e' f"),
        # &amp;lt; decodes ONCE: to the literal text '&lt;'
        ("x &amp;lt; y", "x &lt; y"),
        ("  lots   of\nspace  ", "lots of space"),
        ("<SCRIPT a=b>x<y</script><B>bold</B>", "bold"),
    ]
    df = spark.createDataFrame(rows, "html string, want string")
    bad = df.filter(extract_text("html") != F.col("want")).collect()
    assert not bad, [(r["html"], r["want"]) for r in bad]

    page = (
        "<h1>Title</h1>\n"
        '<div><a href="/">Home</a> <a href="/b">B</a></div>\n'
        "<p>real content line</p>\n"
        '<footer><a href="/t">T</a></footer>\n'
        # <abbr>/<article> are NOT anchors (r12 ADVICE: the unanchored
        # pattern matched any tag starting with 'a' and dropped this
        # line as link-only boilerplate)
        "<article><abbr>HTML</abbr> spec text</article>"
    )
    out = spark.createDataFrame([(page,)], "html string").selectExpr(
        extract_text_sql(
            drop_boilerplate_sql("html", "spark"), "spark"
        ) + " AS kept",
        boilerplate_counts_sql("html", "spark")[0] + " AS n_lines",
        boilerplate_counts_sql("html", "spark")[1] + " AS n_boiler",
    ).first()
    assert out["kept"] == "Title real content line HTML spec text"
    assert out["n_lines"] == 5 and out["n_boiler"] == 2

    # all-boilerplate page: '' on both engines
    allb = '<a href="/x">only link</a>'
    got = spark.createDataFrame([(allb,)], "html string").selectExpr(
        drop_boilerplate_sql("html", "spark") + " AS kept"
    ).first()["kept"]
    dgot = duckdb.connect().execute(
        "SELECT " + drop_boilerplate_sql("html", "duckdb")
        + " FROM (SELECT ? AS html)", [allb]
    ).fetchone()[0]
    assert got == "" and dgot == ""


def test_phash_band_volume_guard(spark):
    """max_band_pairs turns the SCALE.md selectivity prose into a
    refusal (r11 verdict item 4): a uniform-hash catalog's 4-bit bands
    collide ~n^2/16 and trip the budget; a slice-clustered catalog
    under the wider 4x16-bit banding (the config the error message
    recommends) stays under the SAME budget and builds."""
    import pytest as _pytest

    from typebus_spark.operators.multimodal import phash_near_pairs

    uni = spark.range(300).selectExpr(
        "substring(md5(concat('u:', cast(id as string))), 1, 16)"
        " AS phash"
    )
    with _pytest.raises(ValueError, match="candidate pairs"):
        phash_near_pairs(
            uni, max_hamming=15, n_bands=16, max_band_pairs=2000
        )

    # 50 slices x 4 variants share a 12-hex prefix: the 4x16-bit bands
    # key on 4-char chunks, so cross-slice collisions vanish and the
    # volume is ~slices * 3 bands * C(4,2) = 900 < 2000
    cat = (
        spark.range(50)
        .select(
            F.col("id").alias("s"),
            F.explode(F.expr("sequence(0, 3)")).alias("v"),
        )
        .selectExpr(
            "concat(substring(md5(concat('p:', cast(s as string))), 1, 12),"
            " substring(md5(concat('p:', cast(s as string), ':',"
            " cast(v as string))), 1, 4)) AS phash"
        )
    )
    out = phash_near_pairs(
        cat, max_hamming=3, n_bands=4, max_band_pairs=2000
    )
    assert out.count() >= 0  # guard passed, plan builds and runs


def test_psl_snapshot_well_formed():
    """Frozen PSL snapshot invariants (the r12 frozen artifact's pin —
    it is static public data, not a trained model, so the pin is
    structural): entries lowercase dotted labels with the advertised
    label counts, no entry in two rule sets, every exception's parent
    wildcard base present (an orphan exception would silently act as a
    plain suffix), and the SQL splice helper rejects quoting hazards."""
    import pytest as _pytest

    from typebus_spark.operators import _psl_snapshot as psl

    def labels(s):
        return s.split(".")

    for s in psl.PSL_SUFFIXES_2LABEL:
        assert len(labels(s)) == 2 and s == s.lower(), s
    for s in psl.PSL_SUFFIXES_3LABEL:
        assert len(labels(s)) == 3 and s == s.lower(), s
    for s in psl.PSL_WILDCARD_BASES_1LABEL:
        assert len(labels(s)) == 1, s
    for s in psl.PSL_WILDCARD_BASES_2LABEL:
        assert len(labels(s)) == 2, s
    sets = [
        set(psl.PSL_SUFFIXES_2LABEL),
        set(psl.PSL_SUFFIXES_3LABEL),
        set(psl.PSL_WILDCARD_BASES_2LABEL),
        set(psl.PSL_EXCEPTIONS_2LABEL),
        set(psl.PSL_EXCEPTIONS_3LABEL),
    ]
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            assert not (a & b), (a & b)
    # each exception punches through a wildcard that must exist
    for e in psl.PSL_EXCEPTIONS_2LABEL:
        assert ".".join(labels(e)[1:]) in psl.PSL_WILDCARD_BASES_1LABEL, e
    for e in psl.PSL_EXCEPTIONS_3LABEL:
        assert ".".join(labels(e)[1:]) in psl.PSL_WILDCARD_BASES_2LABEL, e
    with _pytest.raises(AssertionError):
        psl.sql_in_list(("bad'quote",))


def test_incremental_dedup_index_paths_agree(spark, sf_dir, tmp_path):
    """The 3-table stored index (hashes / postings / per-doc sizes —
    r13), the legacy 2-tuple index, and full live derivation must tag
    the delta identically: the stored size table is the SAME per-doc
    distinct-shingle count, just computed at index build instead of
    per batch."""
    import pyspark.sql.functions as F

    from typebus_spark.operators.dedup import (
        build_exact_index,
        incremental_dedup,
    )
    from typebus_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    idx = build_exact_index(
        corpus, "doc_id", "text", shingle_n=8,
        materialize_dir=str(tmp_path / "ix"),
    )
    assert len(idx) == 3 and idx[2].columns == ["_id", "nc"]

    def tags(ci):
        return sorted(
            (r["doc_id"], r["admit_reason"])
            for r in incremental_dedup(
                delta, corpus, "doc_id", "text", shingle_n=8,
                threshold=0.5, corpus_index=ci,
            ).select("doc_id", "admit_reason").collect()
        )

    stored = tags(idx)
    assert stored == tags(idx[:2]) == tags(None)
    assert {t for _, t in stored} >= {"new"}


def test_incremental_dedup_exact_outranks_near(spark):
    """A delta doc that is BOTH an exact copy and a near-dup of the
    corpus must tag exact_dup (the r13 union+min-priority fuse keeps
    the old two-join precedence)."""
    from typebus_spark.operators.dedup import incremental_dedup

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, text)], ["doc_id", "text"]
    )
    delta = spark.createDataFrame(
        [(2, text), (3, "alpha beta gamma delta epsilon zeta eta iota"),
         (4, "totally different words here nothing shared at all")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["admit_reason"]
        for r in incremental_dedup(
            delta, corpus, "doc_id", "text", shingle_n=3, threshold=0.3
        ).collect()
    }
    assert got == {2: "exact_dup", 3: "near_dup", 4: "new"}
