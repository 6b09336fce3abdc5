"""Deduplication inventory queries (north-star) over ``documents`` /
``embeddings``.

The md5-portable hashing (functions.text) makes even the MinHash+LSH
pipeline fully oracle-checkable: signatures, band hashes, candidate
pairs and verified Jaccard are bit-identical in DuckDB. SimHash uses
xxhash64 (engine-local) → rows-only check, as declared.
"""

from __future__ import annotations

from functools import lru_cache

import pyspark.sql.functions as F

from typebus_spark.functions.text import tokens, tokens_lower
from typebus_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from typebus_spark.queries.text import TOKS, _shingles_sql
from typebus_spark.suite import query, t

NEAR_N = 8
NEAR_THRESHOLD = 0.5


@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS canonical_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
""",
    doc="Exact dedup: hash-groupBy on normalized content (one shuffle, map-side partials).",
)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(t(spark, sf_dir, "documents"), "doc_id", "text")


_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.a, s.b,
       round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {thr}
"""


@query(
    "q_dedup_near_jaccard",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
{_JACCARD_TAIL.format(thr=NEAR_THRESHOLD)}
""",
    doc=(
        "EXACT n-gram Jaccard near-dup pairs via inverted shingle index — "
        "sub-quadratic because 8-gram shingles are selective."
    ),
)
def q_dedup_near_jaccard(spark, sf_dir):
    return jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=NEAR_THRESHOLD,
    )


def _minhash_lsh_oracle(
    shingle_n: int = NEAR_N,
    num_hashes: int = 16,
    bands: int = 4,
    thr: float = NEAR_THRESHOLD,
) -> str:
    r = num_hashes // bands
    sig = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS m{i}"
        for i in range(num_hashes)
    )
    band_structs = ", ".join(
        "{'band': %d, 'h': md5(%s)}"
        % (
            b,
            " || '|' || ".join(f"m{b * r + i}" for i in range(r)),
        )
        for b in range(bands)
    )
    return f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
shl AS (SELECT doc_id, list_distinct({_shingles_sql(shingle_n)}) AS sh FROM tt),
sig AS (SELECT doc_id, {sig} FROM shl),
bands AS (SELECT doc_id, unnest([{band_structs}], recursive := true) FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(unnest({_shingles_sql(shingle_n)})), 1, 15))::BIGINT AS shingle
       FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.a, c.b, count(*) AS shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
  GROUP BY 1, 2)
SELECT s.a, s.b,
       round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {thr}
"""


@query(
    "q_dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    doc=(
        "MinHash+LSH near-dup: md5 signatures (engine-portable) → 4 bands "
        "× 4 rows → band-bucket join candidates → exact Jaccard verify. "
        "Sub-quadratic scale path."
    ),
)
def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        num_hashes=16,
        bands=4,
        threshold=NEAR_THRESHOLD,
    )


def _minhash_incremental_oracle(
    shingle_n: int = NEAR_N,
    num_hashes: int = 16,
    bands: int = 4,
    thr: float = NEAR_THRESHOLD,
) -> str:
    """Full-corpus banding replay restricted to pairs involving the
    delta (doc_id % 10 = 0): per-doc signatures are identical whether
    computed over one frame or two, so the incremental operator must
    produce exactly the delta-involving subset of the batch pairs."""
    r = num_hashes // bands
    sig = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS m{i}"
        for i in range(num_hashes)
    )
    band_structs = ", ".join(
        "{'band': %d, 'h': md5(%s)}"
        % (b, " || '|' || ".join(f"m{b * r + i}" for i in range(r)))
        for b in range(bands)
    )
    return f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
shl AS (SELECT doc_id, list_distinct({_shingles_sql(shingle_n)}) AS sh FROM tt),
sig AS (SELECT doc_id, {sig} FROM shl),
bands AS (SELECT doc_id, unnest([{band_structs}], recursive := true) FROM sig),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.h = y.h
          AND x.doc_id % 10 = 0
          AND x.doc_id != y.doc_id
          AND (y.doc_id % 10 != 0 OR x.doc_id < y.doc_id)),
sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(unnest({_shingles_sql(shingle_n)})), 1, 15))::BIGINT AS shingle
       FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.a, c.b, count(*) AS shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
  GROUP BY 1, 2)
SELECT s.a, s.b,
       round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard,
       CASE WHEN s.b % 10 = 0 THEN 'delta' ELSE 'history' END AS dup_in
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {thr}
"""


@query(
    "q_dedup_minhash_incremental",
    oracle=_minhash_incremental_oracle(),
    doc=(
        "INGEST-shaped near-dup (the fuzzy twin of q_dedup_incremental): "
        "a new batch (doc_id %% 10 = 0) is checked against the existing "
        "corpus AND itself via the MinHash band index — delta band rows "
        "join the union index, so history contributes only colliding "
        "buckets and the exact-Jaccard verify semi-join-restricts the "
        "history shingle index to actual candidate partners; "
        "history x history pairs are never generated (cost ∝ delta + "
        "collisions, the property that lets a 100 TB corpus absorb a "
        "daily batch without re-pairing itself). PRODUCTION PATH "
        "(r10): the history band + shingle indexes are read from the "
        "STORED tables build_minhash_index materialized once per "
        "(session, corpus) — per-run cost is the delta shingling plus "
        "the bucket join, never re-indexing history (the live "
        "index-derivation code path stays driver-checked every round "
        "via q_dedup_minhash_lsh, which builds the same frames "
        "in-plan). Oracle replays full-corpus banding restricted to "
        "delta-involving pairs — per-doc signatures are "
        "frame-independent, so the results must be identical."
    ),
)
def q_dedup_minhash_incremental(spark, sf_dir):
    from typebus_spark.operators.dedup import minhash_lsh_incremental

    docs = t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    history = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_incremental(
        history,
        delta,
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        num_hashes=16,
        bands=4,
        threshold=NEAR_THRESHOLD,
        history_index=_stored_minhash_index(spark, sf_dir, dirty=False),
    )


_MINHASH_INDEX_CACHE: dict[tuple, tuple] = {}

_EXACT_INDEX_CACHE: dict[tuple, tuple] = {}


def _stored_exact_index(spark, sf_dir):
    """Stored corpus content-hash + distinct-shingle index tables for
    q_dedup_incremental (build_exact_index), materialized once per
    (session, corpus) under shm scratch — the exact-dedup twin of
    _stored_minhash_index."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _EXACT_INDEX_CACHE.get(key)
    if got is None:
        import atexit
        import shutil
        import tempfile

        from typebus_spark.operators.dedup import build_exact_index
        from typebus_spark.session import _shm_scratch

        corpus = t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 != 4
        )
        root = tempfile.mkdtemp(prefix="ex_index_", dir=_shm_scratch())
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        got = build_exact_index(
            corpus, "doc_id", "text", shingle_n=NEAR_N,
            materialize_dir=root,
        )
        _EXACT_INDEX_CACHE[key] = got
    return got


def _stored_minhash_index(spark, sf_dir, dirty: bool):
    """The pre-built history MinHash index tables (band rows + hashed
    distinct shingles), materialized ONCE per (session, corpus,
    variant) to parquet under shm scratch — the stored-table setup a
    production corpus maintains across ingest batches (same pattern as
    the staged stream source). ``dirty=True`` builds from the history
    WITH stale same-id copies of the delta docs still indexed, so the
    re-ingest query exercises the index-level stale-row removal."""
    key = (spark.sparkContext.applicationId, sf_dir, dirty)
    got = _MINHASH_INDEX_CACHE.get(key)
    if got is None:
        import atexit
        import shutil
        import tempfile

        from typebus_spark.operators.dedup import build_minhash_index
        from typebus_spark.session import _shm_scratch

        docs = t(spark, sf_dir, "documents")
        history = docs.filter(F.col("doc_id") % 10 != 0)
        if dirty:
            stale = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "text", F.substring("text", 1, 120)
            )
            history = history.unionByName(stale.select(*docs.columns))
        root = tempfile.mkdtemp(prefix="mh_index_", dir=_shm_scratch())
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        got = build_minhash_index(
            history, "doc_id", "text",
            shingle_n=NEAR_N, num_hashes=16, bands=4,
            materialize_dir=root,
        )
        _MINHASH_INDEX_CACHE[key] = got
    return got


@query(
    "q_dedup_minhash_reingest",
    oracle=_minhash_incremental_oracle(),
    doc=(
        "RE-INGEST form of q_dedup_minhash_incremental (driver-checks "
        "the r9 same-id fix, lifted to the r10 STORED-INDEX path): the "
        "stored history index was built WITH a stale copy of every "
        "delta document (same id, truncated text) still indexed — the "
        "operator must anti-join the stale rows out of BOTH stored "
        "index frames (the production 'delete the doc's index rows "
        "before re-adding it' step), so the result is IDENTICAL to a "
        "run where history never held the ids at all (the oracle is "
        "exactly q_dedup_minhash_incremental's). A leak shows up as "
        "same-id self-pairs or double-counted verify sizes and flips "
        "the hash."
    ),
)
def q_dedup_minhash_reingest(spark, sf_dir):
    from typebus_spark.operators.dedup import minhash_lsh_incremental

    docs = t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    stale = delta.withColumn("text", F.substring("text", 1, 120))
    dirty_history = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        stale.select(*docs.columns)
    )
    return minhash_lsh_incremental(
        dirty_history,
        delta,
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        num_hashes=16,
        bands=4,
        threshold=NEAR_THRESHOLD,
        history_index=_stored_minhash_index(spark, sf_dir, dirty=True),
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    from typebus_spark.operators.dedup import SIMHASH_BITS, SIMHASH_CHUNKS

    span = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << span) - 1
    sums = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i in range(SIMHASH_BITS)
    )
    chunk_structs = ", ".join(
        "{'c': %d, 'v': (sig >> %d) & %d}" % (c, span * c, mask)
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tt),
hh AS (SELECT doc_id,
              ('0x' || substr(md5(tok), 1, {SIMHASH_BITS // 4}))::BIGINT AS h
       FROM tok),
s AS (SELECT doc_id,
       {sums}
      FROM hh GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig} AS sig FROM s),
bands AS (SELECT doc_id, sig,
                 unnest([{chunk_structs}], recursive := true) FROM sigs),
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                a.sig AS sa, b.sig AS sb
         FROM bands a JOIN bands b
           ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@query(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    doc=(
        "SimHash near-dup: 64-bit signatures via one explode+groupBy pass "
        "(md5-hex bit extraction — engine-portable, fully oracle-checked), "
        "16-bit-chunk banding (pigeonhole) for sub-quadratic candidates."
    ),
)
def q_dedup_simhash(spark, sf_dir):
    return simhash_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {NEAR_THRESHOLD}),
edges AS (SELECT a AS src, b AS dst FROM p
          UNION SELECT b AS src, a AS dst FROM p),
reach(src, dst) AS (
  (SELECT src, dst FROM edges UNION SELECT src, src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach GROUP BY src
""",
    doc=(
        "Duplicate-cluster resolution: connected components over the "
        "exact-Jaccard near-dup pair graph (min-label propagation — the "
        "pipeline's one genuinely iterative algorithm; rounds = graph "
        "diameter, state = one row per PAIRED doc, far smaller than the "
        "corpus). Oracle walks the same graph with a recursive CTE."
    ),
)
def q_dedup_clusters(spark, sf_dir):
    from typebus_spark.operators.clustering import connected_components

    pairs = jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=NEAR_THRESHOLD,
    )
    return connected_components(pairs, "a", "b")


@query(
    "q_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {NEAR_THRESHOLD}),
edges AS (SELECT a AS src, b AS dst FROM p
          UNION SELECT b AS src, a AS dst FROM p),
reach(src, dst) AS (
  (SELECT src, dst FROM edges UNION SELECT src, src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
       FROM reach GROUP BY src),
m AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY d.n_chars DESC, cl.doc_id) AS rk
      FROM cl JOIN documents d USING (doc_id))
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
       CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars
FROM m GROUP BY cluster_id
""",
    doc=(
        "Canonical-pick dedup: within each near-dup cluster keep the "
        "BEST member — longest document, deterministic doc_id "
        "tie-break — instead of q_dedup_clusters' arbitrary min-id "
        "(the C4/RefinedWeb keep-longest convention; in production the "
        "rank key is any quality score). Same connected-components "
        "pair graph; the pick is one row_number window over the "
        "cluster frame (WindowGroupLimit-free here because the "
        "aggregate consumes every rank, but state is one row per "
        "PAIRED doc — far smaller than the corpus)."
    ),
)
def q_dedup_keep_best(spark, sf_dir):
    from typebus_spark.operators.clustering import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "doc_id", "text", shingle_n=NEAR_N, threshold=NEAR_THRESHOLD
    )
    clusters = connected_components(pairs, "a", "b")
    sized = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    # the keep-longest pick is an ARGMAX, not a rank (r14): the old
    # row_number window shuffled + SORTED every cluster member before
    # the aggregate could run; max(struct(n_chars, -doc_id)) computes
    # the same deterministic winner (longest, lowest-id tie-break —
    # struct comparison is field-by-field, and -doc_id is unique so
    # ordering is total) as an aggregate WITH map-side partials, so a
    # giant cluster collapses per map task instead of landing on one
    # window partition (windows get no AQE skew handling, same argument
    # as bigram c2). It is NOT sort-free: a struct-typed max buffer is
    # not hash-aggregatable, so the plan is SortAggregate with a Sort
    # under both the partial and the final aggregate
    # (plans/r14/q_dedup_keep_best_after.txt).
    return (
        sized.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).alias("_best"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("_best.negid")).alias("kept_doc_id"),
            F.col("_best.nc").cast("long").alias("kept_chars"),
        )
    )


@query(
    "q_pagerank_dups",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {NEAR_THRESHOLD}),
e AS (SELECT a AS src, b AS dst FROM p
      UNION SELECT b AS src, a AS dst FROM p),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
r0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS r FROM deg),
c1 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
       FROM e JOIN r0 r ON e.src = r.id JOIN deg d ON e.src = d.src
       GROUP BY 1),
r1 AS (SELECT r0.id,
                CAST(150000000 + (85 * coalesce(c1.s, 0)) // 100
                     AS BIGINT) AS r
         FROM r0 LEFT JOIN c1 ON r0.id = c1.id),
c2 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
       FROM e JOIN r1 r ON e.src = r.id JOIN deg d ON e.src = d.src
       GROUP BY 1),
r2 AS (SELECT r1.id,
                CAST(150000000 + (85 * coalesce(c2.s, 0)) // 100
                     AS BIGINT) AS r
         FROM r1 LEFT JOIN c2 ON r1.id = c2.id),
c3 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
       FROM e JOIN r2 r ON e.src = r.id JOIN deg d ON e.src = d.src
       GROUP BY 1),
r3 AS (SELECT r2.id,
                CAST(150000000 + (85 * coalesce(c3.s, 0)) // 100
                     AS BIGINT) AS r
         FROM r2 LEFT JOIN c3 ON r2.id = c3.id)
SELECT id, round(CAST(r AS DOUBLE) / 1000000000, 6) AS rank
FROM r3
""",
    doc=(
        "Duplicate-centrality PageRank (3 fixed iterations, damping "
        "0.85) over the exact-Jaccard near-dup pair graph — ranks the "
        "hub documents of each duplication family. Every step is EXACT "
        "integer nano-unit arithmetic (contribution = rank DIV degree, "
        "damped update all-integer), so unlike float PageRank the "
        "iterative algorithm itself is value-checked: the oracle "
        "replays all three iterations as unrolled CTEs and lands on "
        "identical units. Scale shape matches connected_components — "
        "one edges-x-ranks join + one sum per iteration, state one row "
        "per PAIRED doc."
    ),
)
def q_pagerank_dups(spark, sf_dir):
    from typebus_spark.operators.clustering import pagerank_fixed

    pairs = jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=NEAR_THRESHOLD,
    )
    return pagerank_fixed(pairs, "a", "b", iters=3).select(
        F.col("id"), F.col("rank")
    )


@query(
    "q_pipeline_clean_corpus",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents),
qual AS (
  SELECT doc_id, text, toks,
         (CASE WHEN len(toks) >= 20 AND len(toks) <= 10000 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN len(list_filter(toks, x -> list_contains(
              ['the','a','an','and','or','of','to','in','is','it'], lower(x))))
              / len(toks) >= 0.01
          AND len(list_filter(toks, x -> list_contains(
              ['the','a','an','and','or','of','to','in','is','it'], lower(x))))
              / len(toks) <= 0.6 THEN 0.2 ELSE 0.0 END)
       + (CASE WHEN length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
              / length(text) <= 0.1 THEN 0.2 ELSE 0.0 END)
       + (CASE WHEN len(list_distinct(toks)) / len(toks) >= 0.1
          THEN 0.2 ELSE 0.0 END) AS score
  FROM feat),
passed AS (SELECT doc_id, text, toks FROM qual WHERE score >= 0.6),
canon AS (
  SELECT min(doc_id) AS doc_id
  FROM passed
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
survivors AS (
  SELECT p.doc_id, p.text, p.toks FROM passed p
  JOIN canon c ON p.doc_id = c.doc_id),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(8)})), 1, 15))::BIGINT AS shingle FROM survivors),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
near AS (
  SELECT s.b
  FROM (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2) s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= 0.5),
clean AS (
  SELECT * FROM survivors
  WHERE doc_id NOT IN (SELECT b FROM near)),
langed AS (
  SELECT doc_id, toks,
     len(list_filter(toks, x -> list_contains(['the','a','and','of','to'],
                                              lower(x)))) AS hits_en
  FROM clean)
SELECT CASE WHEN hits_en > 0 THEN 'en' ELSE 'und' END AS pred_lang,
       count(*) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens
FROM langed
GROUP BY 1
""",
    doc=(
        "Full training-data pipeline composition: quality filter → exact "
        "dedup (canonical id) → near-dup removal (drop higher id of each "
        "Jaccard≥0.5 pair) → language grouping. Every stage is the real "
        "operator; oracle mirrors the full chain."
    ),
)
def q_pipeline_clean_corpus(spark, sf_dir):
    from typebus_spark.operators.text_analysis import quality_score
    from typebus_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    q = quality_score(docs, "doc_id", "text").filter(
        F.col("quality_score") >= 0.6
    ).select("doc_id")
    passed = docs.join(q, "doc_id")

    canon = exact_dedup(passed, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    # survivors feeds the near-dup index AND the anti-join left side —
    # persist, or the quality+dedup join chain re-executes per consumer
    from pyspark import StorageLevel

    survivors = passed.join(canon, "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    near_b = jaccard_pairs(
        survivors, "doc_id", "text", shingle_n=8, threshold=0.5
    ).select(F.col("b").alias("doc_id")).distinct()
    clean = survivors.join(near_b, "doc_id", "left_anti")

    lang_cols, lang_aggs = _clean_corpus_lang_cols()
    return clean.select(*lang_cols).groupBy("pred_lang").agg(*lang_aggs)


@lru_cache(maxsize=1)
def _clean_corpus_lang_cols() -> tuple:
    toks = tokens_lower("text")
    en_hits = F.size(
        F.filter(toks, lambda t_: t_.isin("the", "a", "and", "of", "to"))
    )
    return (
        (
            F.when(en_hits > 0, "en").otherwise("und").alias("pred_lang"),
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        ),
        (
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        ),
    )


@query(
    "q_corpus_split",
    oracle=f"""
WITH b AS (
  SELECT doc_id, {TOKS} AS toks,
         (('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT % 10000) AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens
FROM b
GROUP BY 1
""",
    doc=(
        "Deterministic train/val/test split (90/5/5): 60-bit md5 bucket "
        "of the doc id — a document keeps its split forever as the "
        "corpus grows (no contamination drift), pure expression, "
        "engine-portable and hash-checked."
    ),
)
def q_corpus_split(spark, sf_dir):
    from typebus_spark.functions.text import tokens
    from typebus_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents")
    split = hash_split(
        docs, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}, seed=42
    )
    return (
        split.select(
            "split", F.size(tokens("text")).cast("long").alias("n_tokens")
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"
)
_NORM = (
    "sqrt(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))"
)


COS_THRESHOLD = 0.35  # calibrated to the synthetic fixture: same-label
# cosines top out ≈0.51 (p99 ≈0.30), so a 0.9 "near-dup" bar matches
# nothing and the check would be trivially green on 0 rows


@query(
    "q_dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS a, b.vec_id AS b,
       round({_DOT.format(a='a.embedding', b='b.embedding')}
             / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}),
             6) AS cos
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
      / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})
      >= {COS_THRESHOLD}
""",
    doc=(
        "Embedding-cosine near-dup, label-blocked (IVF-style blocking keeps "
        "the pair space linear per block at scale)."
    ),
)
def q_dedup_embedding(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    from typebus_spark.functions.vector import dot, norm
    from typebus_spark.session import ensure_parallelism

    # spread BEFORE the pair join (r14, guide §2.6): the embeddings
    # parquet arrives as ONE split, the planner broadcasts the other
    # side (small table), so the label-blocked pair join — the query's
    # only CPU-dense pass, one aggregate-fold dot per candidate pair —
    # ran on a single core. The probe side's partitioning is the pair
    # stage's parallelism; at scale the scan arrives wide and this is
    # a no-op (ensure_parallelism only spreads few-partition inputs).
    base = ensure_parallelism(e.select("vec_id", "embedding", "label")).select(
        "vec_id", "embedding", "label", norm("embedding").alias("n")
    )
    a = base.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
        F.col("n").alias("na"), "label",
    )
    b = base.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
        F.col("n").alias("nb"), "label",
    )
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "label")
        .filter(F.col("a") < F.col("b"))
        .filter(cos >= COS_THRESHOLD)
        .select("a", "b", F.round(cos, 6).alias("cos"))
    )


@query(
    "q_dedup_spans",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
ch0 AS (SELECT doc_id,
               list_transform(range(1, len(toks) + 1, 20),
                              i -> array_to_string(toks[i:i+19], ' '))
                 AS chunks
        FROM tt),
ex AS (SELECT doc_id,
              generate_subscripts(chunks, 1) - 1 AS pos,
              unnest(chunks) AS chunk
       FROM ch0),
dup AS (SELECT chunk FROM ex GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= 2),
j AS (SELECT ex.doc_id, ex.pos, ex.chunk,
             (d.chunk IS NULL) AS kept
      FROM ex LEFT JOIN dup d ON ex.chunk = d.chunk)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                               ORDER BY pos), '')) AS cleaned_hash
FROM j GROUP BY doc_id
""",
    doc=(
        "Span-level dedup with reconstruction (C4-style duplicated-span "
        "removal): fixed 20-token chunks, any chunk shared by >=2 docs "
        "is cut everywhere, survivors re-join in position order — "
        "explode + one chunk-key shuffle (map-side partial distinct) + "
        "per-doc regroup; the rebuilt text is md5-verified against the "
        "oracle, so the reconstruction itself is hash-checked."
    ),
)
def q_dedup_spans(spark, sf_dir):
    from typebus_spark.operators.dedup import dedup_spans

    docs = t(spark, sf_dir, "documents")
    out = dedup_spans(docs, "doc_id", "text", chunk_tokens=20, min_docs=2)
    return out.select(
        "doc_id",
        "n_chunks",
        "n_removed",
        F.md5("cleaned_text").alias("cleaned_hash"),
    )


_CDC_P = 16  # target chunk tokens (boundary prob 1/16 per token)
_CDC_MIN = 4  # chunks shorter than this are never cut


@query(
    "q_dedup_substring",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
             generate_subscripts(toks, 1) AS i,
             unnest(toks) AS tok,
             toks AS arr
      FROM tt),
g2 AS (SELECT doc_id, i, tok,
              CASE WHEN ('0x' || substr(md5(
                     array_to_string(arr[greatest(i-2,1):i], ' ')
                   ), 1, 15))::BIGINT % {_CDC_P} = 0 THEN 1 ELSE 0 END AS cut
       FROM g),
g3 AS (SELECT doc_id, i, tok, cut,
              coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS chunk_id
       FROM g2),
ch AS (SELECT doc_id, chunk_id,
              string_agg(tok, ' ' ORDER BY i) AS chunk,
              count(*) AS n_toks
       FROM g3 GROUP BY doc_id, chunk_id),
dup AS (SELECT chunk FROM ch
        WHERE n_toks >= {_CDC_MIN}
        GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
j AS (SELECT ch.doc_id, ch.chunk_id, ch.chunk,
             (d.chunk IS NULL) AS kept
      FROM ch LEFT JOIN dup d ON ch.chunk = d.chunk)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                               ORDER BY chunk_id), '')) AS cleaned_hash
FROM j GROUP BY doc_id
""",
    doc=(
        "Exact-SUBSTRING dedup at arbitrary offsets (Lee et al. "
        "ExactSubstr, Spark-first): content-defined chunk boundaries "
        "(3-token rolling md5 key mod 16) align duplicated spans "
        "regardless of offset — repeated substrings that slip through "
        "q_dedup_spans' fixed grid are caught; chunks of >=4 tokens "
        "shared by >=2 docs are cut everywhere and the text rebuilt. "
        "One per-doc window + one chunk-key shuffle + per-doc regroup; "
        "reconstruction md5-verified against the oracle."
    ),
)
def q_dedup_substring(spark, sf_dir):
    from typebus_spark.operators.dedup import dedup_substrings

    docs = t(spark, sf_dir, "documents")
    out = dedup_substrings(
        docs,
        "doc_id",
        "text",
        target_chunk_tokens=_CDC_P,
        min_docs=2,
        min_chunk_tokens=_CDC_MIN,
    )
    return out.select(
        "doc_id",
        "n_chunks",
        "n_removed",
        F.md5("cleaned_text").alias("cleaned_hash"),
    )


@query(
    "q_dedup_substring_keep_first",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
             generate_subscripts(toks, 1) AS i,
             unnest(toks) AS tok,
             toks AS arr
      FROM tt),
g2 AS (SELECT doc_id, i, tok,
              CASE WHEN ('0x' || substr(md5(
                     array_to_string(arr[greatest(i-2,1):i], ' ')
                   ), 1, 15))::BIGINT % {_CDC_P} = 0 THEN 1 ELSE 0 END AS cut
       FROM g),
g3 AS (SELECT doc_id, i, tok, cut,
              coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS chunk_id
       FROM g2),
ch AS (SELECT doc_id, chunk_id,
              string_agg(tok, ' ' ORDER BY i) AS chunk,
              count(*) AS n_toks
       FROM g3 GROUP BY doc_id, chunk_id),
dup AS (SELECT chunk, min(doc_id) AS keeper FROM ch
        WHERE n_toks >= {_CDC_MIN}
        GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
j AS (SELECT ch.doc_id, ch.chunk_id, ch.chunk,
             (d.chunk IS NULL OR ch.doc_id = d.keeper) AS kept
      FROM ch LEFT JOIN dup d ON ch.chunk = d.chunk)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                               ORDER BY chunk_id), '')) AS cleaned_hash
FROM j GROUP BY doc_id
""",
    doc=(
        "ExactSubstr with the remove-all-but-one policy (Lee et al. "
        "keep a canonical copy; q_dedup_substring's default cuts every "
        "copy, the C4 boilerplate policy): duplicated content-defined "
        "chunks survive only in their min-id document. Same plan as "
        "q_dedup_substring plus a min(id) in the dup aggregate."
    ),
)
def q_dedup_substring_keep_first(spark, sf_dir):
    from typebus_spark.operators.dedup import dedup_substrings

    out = dedup_substrings(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        target_chunk_tokens=_CDC_P,
        min_docs=2,
        min_chunk_tokens=_CDC_MIN,
        keep_first=True,
    )
    return out.select(
        "doc_id",
        "n_chunks",
        "n_removed",
        F.md5("cleaned_text").alias("cleaned_hash"),
    )


@query(
    "q_dedup_containment",
    oracle=f"""
WITH tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.a, s.b,
       round(s.shared / least(sa.n_sh, sb.n_sh), 6) AS containment
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE s.shared / least(sa.n_sh, sb.n_sh) >= 0.8
""",
    doc=(
        "Containment (subset) detection: pairs where the smaller "
        "document's 8-gram shingle set is >=80%% contained in the "
        "larger's — catches quotes/excerpts/wrapper pages that Jaccard "
        "misses when document sizes differ a lot. Same inverted shingle "
        "index and plan as q_dedup_near_jaccard; only the final ratio "
        "changes."
    ),
)
def q_dedup_containment(spark, sf_dir):
    from typebus_spark.operators.dedup import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=0.8,
    )


@query(
    "q_dedup_incremental",
    oracle=f"""
WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
dh AS (SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
       FROM delta),
chs AS (SELECT DISTINCT
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
        FROM corpus),
dt AS (SELECT doc_id, {TOKS} AS toks FROM delta),
ct AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
dsh AS (SELECT DISTINCT doc_id,
               ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM dt),
csh AS (SELECT DISTINCT doc_id,
               ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM ct),
dsz AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
csz AS (SELECT doc_id, count(*) AS nc FROM csh GROUP BY doc_id),
shared AS (
  SELECT d.doc_id AS d, c.doc_id AS c, count(*) AS s
  FROM dsh d JOIN csh c ON d.shingle = c.shingle
  GROUP BY 1, 2),
near AS (
  SELECT DISTINCT s.d AS doc_id
  FROM shared s
  JOIN dsz ON s.d = dsz.doc_id
  JOIN csz ON s.c = csz.doc_id
  WHERE s.s / (dsz.nd + csz.nc - s.s) >= {NEAR_THRESHOLD})
SELECT CASE WHEN dh.h IN (SELECT h FROM chs) THEN 'exact_dup'
            WHEN dh.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
            ELSE 'new' END AS admit_reason,
       count(*) AS n_docs
FROM dh GROUP BY 1
""",
    doc=(
        "INCREMENTAL ingestion dedup (delta vs existing corpus, the "
        "continuous-ingestion shape): each batch is admitted only if "
        "neither an exact copy (anti-join on the corpus content-hash "
        "index) nor a near-dup (delta shingles probed against the "
        "corpus shingle index) — per-batch cost proportional to the "
        "DELTA plus index probe, never corpus². PRODUCTION PATH (r10, "
        "same as q_dedup_minhash_incremental): all three corpus index "
        "tables — content hashes, shingle postings, per-doc shingle "
        "sizes — are read from STORED tables (build_exact_index, "
        "materialized once per session+corpus); the corpus is never "
        "re-hashed, re-shingled, or re-counted per batch. The 20%% "
        "newest ids play the delta; admit/reject tallies are "
        "hash-checked."
    ),
)
def q_dedup_incremental(spark, sf_dir):
    from typebus_spark.operators.dedup import incremental_dedup

    docs = t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    tagged = incremental_dedup(
        delta,
        corpus,
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=NEAR_THRESHOLD,
        corpus_index=_stored_exact_index(spark, sf_dir),
    )
    return tagged.groupBy("admit_reason").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q_split_leakage_safe",
    oracle=f"""
WITH RECURSIVE tt AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(unnest({_shingles_sql(NEAR_N)})), 1, 15))::BIGINT AS shingle FROM tt),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE s.shared / (sa.n_sh + sb.n_sh - s.shared) >= {NEAR_THRESHOLD}),
edges AS (SELECT a AS src, b AS dst FROM p
          UNION SELECT b AS src, a AS dst FROM p),
reach(src, dst) AS (
  (SELECT src, dst FROM edges UNION SELECT src, src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
         FROM reach GROUP BY src),
fam AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS family
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
b AS (
  SELECT doc_id, family,
         (('0x' || substr(md5('42:' || CAST(family AS VARCHAR)), 1, 15))
            ::BIGINT % 10000) AS bucket
  FROM fam)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT family) AS BIGINT) AS n_families
FROM b
GROUP BY 1
""",
    doc=(
        "LEAKAGE-SAFE train/val/test split: the hash-bucket split keys "
        "on the near-dup FAMILY (connected-component id of the "
        "exact-Jaccard pair graph; singletons key on their own id), so "
        "every member of a duplicate family lands in the same split — "
        "the q_corpus_split scheme alone can put a test doc's near-"
        "duplicate in train, silently inflating eval. Composes the two "
        "proven operators (components + hash split) into the split a "
        "training pipeline should actually use; same determinism "
        "guarantee (membership is a pure function of seed + family)."
    ),
)
def q_split_leakage_safe(spark, sf_dir):
    from typebus_spark.operators.clustering import connected_components
    from typebus_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        threshold=NEAR_THRESHOLD,
    )
    cc = connected_components(pairs, "a", "b")
    fam = docs.select("doc_id").join(cc, "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("family"),
    )
    split = hash_split(
        fam, "family", {"train": 0.90, "val": 0.05, "test": 0.05}, seed=42
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("family").alias("n_families"),
    )


_FUZZY_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                ::BIGINT % 10000) AS bucket
      FROM documents)
"""


@query(
    "q_contamination_fuzzy",
    oracle=f"""
WITH spl AS ({_FUZZY_SPLIT_SQL}),
x AS (
  SELECT CASE WHEN s1.split = 'train' THEN p.a ELSE p.b END AS train_doc_id,
         CASE WHEN s1.split = 'train' THEN p.b ELSE p.a END AS test_doc_id,
         p.jaccard
  FROM ({_minhash_lsh_oracle()}) p
  JOIN spl s1 ON p.a = s1.doc_id
  JOIN spl s2 ON p.b = s2.doc_id
  WHERE (s1.split = 'train' AND s2.split = 'test')
     OR (s1.split = 'test' AND s2.split = 'train'))
SELECT train_doc_id,
       CAST(count(*) AS BIGINT) AS n_test_hits,
       max(jaccard) AS max_jaccard
FROM x
GROUP BY train_doc_id
""",
    doc=(
        "FUZZY train/test contamination: where q_contamination catches "
        "verbatim 8-gram overlap, this catches NEAR-DUPLICATE leakage "
        "across the naive per-doc split — MinHash+LSH banded candidates "
        "verified by exact Jaccard, filtered to pairs straddling the "
        "train/test boundary, aggregated per train doc. Same "
        "sub-quadratic index as q_dedup_minhash_lsh (never "
        "|train| x |test|); fully hash-checked because the signatures "
        "are md5-portable. The non-empty result at the default split is "
        "exactly the leakage q_split_leakage_safe eliminates."
    ),
)
def q_contamination_fuzzy(spark, sf_dir):
    from typebus_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=NEAR_N,
        num_hashes=16,
        bands=4,
        threshold=NEAR_THRESHOLD,
    )
    # split labels are a PURE md5 expression of the id (hash_split),
    # so attach them to the pair columns directly instead of building
    # a (doc_id, split) frame and joining it twice (r14, guide §2.4
    # remove-shuffles + the r9 closed-form-rewrite preference): the old
    # shape re-scanned documents for the split frame and paid two
    # broadcast joins SEQUENTIALLY behind the LSH pair pipeline; two
    # CASE projections on a/b are free at any scale and the pair
    # stream — the expensive part — is untouched. Values identical:
    # split is functionally dependent on doc_id with the same seed.
    fracs = {"train": 0.90, "val": 0.05, "test": 0.05}
    x = (
        hash_split(
            hash_split(pairs, "a", fracs, seed=42, split_col="split_a"),
            "b", fracs, seed=42, split_col="split_b",
        )
        .filter(
            ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
            | ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
        )
        .select(
            F.when(F.col("split_a") == "train", F.col("a"))
            .otherwise(F.col("b"))
            .alias("train_doc_id"),
            F.when(F.col("split_a") == "train", F.col("b"))
            .otherwise(F.col("a"))
            .alias("test_doc_id"),
            "jaccard",
        )
    )
    return x.groupBy("train_doc_id").agg(
        F.count(F.lit(1)).alias("n_test_hits"),
        F.max("jaccard").alias("max_jaccard"),
    )
