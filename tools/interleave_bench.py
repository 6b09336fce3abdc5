"""Interleaved same-host code-version head-to-head (BASELINE.md protocol).

This host's ±30% ambient noise makes raw cross-round bench totals
incomparable; the required comparison form is an INTERLEAVED pair:
alternate fresh sessions of version A and version B in one window, warm
min-of-3 per query per session, best across the version's sessions.

One invocation = one session of ONE version:

    python tools/interleave_bench.py --root <repo-or-worktree> \
        [--sf-dir /root/testdata/sf0.001] [--queries q_a,q_b,...]

prints one JSON line {"root": ..., "total": ..., "queries": {name:
best_sec}, "failed": [name, ...]} and exits non-zero when any query
failed (in warm-up or a timed pass); a failed query is listed in
``failed`` and left out of ``queries``, so compare ``failed`` before
comparing totals.
The caller (shell loop) alternates --root between the current repo and
a ``git worktree`` of the comparison commit, then takes per-version
minima across sessions. The tool itself lives only in the NEWER tree —
``--root`` controls which package is imported.
"""

from __future__ import annotations

import argparse
import gc
import json
import sys
import time

DEFAULT_QUERIES = [
    "q_pipeline_clean_corpus",
    "q_pagerank_dups",
    "q_dedup_clusters",
    "q_split_leakage_safe",
    "q_dedup_incremental",
    "q_knn_ivf_lloyd",
    "q_knn_ivf_kmeans",
    "q_retry_drain",
    "q_retry_drain_shed",
    "q_entity_lookup",
    "q_route_counts",
    "q_stream_stream_join",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    from typebus_spark import get_spark
    from typebus_spark.suite import QUERIES

    spark = get_spark(app_name="interleave-bench")
    spark.sparkContext.setLogLevel("ERROR")
    names = [q for q in args.queries.split(",") if q]
    failed: set[str] = set()

    def run_once(n: str) -> float | None:
        t0 = time.perf_counter()
        try:
            QUERIES[n].fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001
            failed.add(n)
            print(f"# {n}: {type(e).__name__}: {e}", file=sys.stderr)
            return None
        finally:
            spark.catalog.clearCache()
            gc.collect()

    # warmup (JIT/codegen) once per query
    for n in names:
        run_once(n)
    best: dict[str, float] = {}
    for _ in range(args.passes):
        for n in names:
            t = run_once(n)
            if t is not None:
                best[n] = min(best.get(n, t), t)
    # a failed query has no time and drops out of ``total``: list it and
    # fail the run, so a broken tree never reads as a faster one
    total = round(sum(best.values()), 3)
    print(json.dumps({"root": args.root, "total": total, "queries": best,
                      "failed": sorted(failed)}))
    spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
