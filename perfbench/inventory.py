"""The query inventory: a fixed slice of ``suite.QUERIES`` on seed-generated tables.

Set-up writes the tables and runs a cold pass that checks every query
against the DuckDB oracle (``tests/oracle.py`` ``compare`` against
``QueryDef.oracle``; a row count where a query has none). Each timed
pass then calls ``q.fn`` and writes the result to the ``noop`` sink, so
plan construction is paid on every pass. The seed fixes the tables and
the query order.
"""

from __future__ import annotations

import gc
import os
import random
import sys
import time

import gen
from common import Ctx, Meter, Outcome, mean

SF = 0.002  # table scale, as a TPC-H scale factor
# One or two queries per query module, among them the paths the open
# ROADMAP items name: keep_best, the mux consumer graph (its one-time
# scaffold) and the staged wire batches (q_route_traced). Left out to
# keep a run inside its time budget: q_text_langid_ngram, the multimodal
# family and the streaming floor (q_stream_entity_state), whose cold
# builds and passes cost more than the rest together; q_topic_balance
# and q_knn_ivf_kmeans, which need a KMeans codebook frozen for the
# fixture corpus that generated embeddings do not match.
QUERIES = (
    "q1_pricing_summary",
    "q7_nation_volume",
    "q4_priority_exists",
    "q16_supplier_part_counts",
    "q_skew_salted_join",
    "q_cohort_retention",
    "q_route_traced",
    "q_stream_hourly",
    "q_dedup_keep_best",
    "q_embedding_random_projection",
    "q_text_langid",
    "q_tfidf_top_terms",
)
MODULES = (
    "relational", "relational2", "relational3", "relational4", "skewq",
    "analytics", "dataflow", "dedup", "similarity", "text", "corpus",
)
# per-layer figures summed over the queries of one pass
PASS_SUMS = (*(f"queries.{m}.wall_s" for m in MODULES), "queries.stateful")
LAYERS = (
    *PASS_SUMS,
    "queries.build_s",
    "queries.exec_s",
    "streaming.mux.scaffold_s",
    "queries.dataflow.staged_wire_s",
)


def module_of(q) -> str:
    return q.fn.__module__.rsplit(".", 1)[-1]


class QuerySlice:
    """The generated tables and the query slice over them.

    Construction is set-up: write the tables. ``warm_up`` is the rest of
    set-up: the cold pass, each query checked against its DuckDB oracle,
    then one untimed pass."""

    def __init__(self, ctx: Ctx, out: Outcome):
        from typebus_spark import suite

        self.ctx, self.out = ctx, out
        self.sf_dir = os.path.join(ctx.work, "tables")
        gen.write_inventory(self.sf_dir, ctx.seed, SF)
        order = list(QUERIES)
        random.Random(ctx.seed).shuffle(order)
        self.queries = [suite.QUERIES[n] for n in order]
        self.walls: list[float] = []  # per-query walls of untraced passes
        self.passes: list[float] = []  # Σ query wall of untraced passes
        self.traced: list[dict[str, float]] = []  # per traced pass

    def warm_up(self) -> None:
        """The checked cold pass, then an untimed pass: the first timed
        pass after the cold one still runs while the JIT compiles the
        planner's hot paths."""
        sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
        from oracle import compare, duck_con

        spark, out = self.ctx.spark, self.out
        con = duck_con(self.sf_dir)
        broken = set()
        for q in self.queries:
            out.attempt()
            start = time.perf_counter()
            try:
                df = q.fn(spark, self.sf_dir)
                if q.oracle is None:
                    ok, why = df.count() >= 0, "row count"
                else:
                    res = compare(df, con, q.oracle)
                    ok, why = res["values_match"], res
            except Exception as e:  # reported by name, counted as failed
                ok, why = False, f"{type(e).__name__}: {e}"
            if not ok:
                broken.add(q.name)
                out.fail(f"{q.name}: {str(why)[:300]}")
            print(f"cold {q.name} {time.perf_counter() - start:.3f} s", file=sys.stderr)
            spark.catalog.clearCache()
            gc.collect()
        con.close()
        self.queries = [q for q in self.queries if q.name not in broken]
        warm = Meter()
        self.run_pass(-1, False, warm)
        print(f"warm pass {warm.wall:.3f} s", file=sys.stderr, flush=True)

    def run_pass(self, k: int, traced: bool, meter: Meter) -> None:
        """Every query once, plan build included, timed into ``meter``.
        A pass numbered below 0 is a warm-up and is not recorded."""
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        total, sums = 0.0, dict.fromkeys(PASS_SUMS, 0.0)
        for q in self.queries:
            mod = module_of(q)
            self.out.attempt()
            wall0 = meter.wall
            try:
                with meter.timed(), tr.span(f"queries.{mod}"):
                    with tr.span("queries.build"):
                        df = q.fn(spark, self.sf_dir)
                    if traced:
                        sums["queries.stateful"] += ctx.stats.take_jobs() > 0
                    with tr.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # reported by name, counted as failed
                self.out.fail(f"{q.name} pass {k}: {type(e).__name__}: {e}"[:300])
                continue
            finally:
                wall = meter.wall - wall0
                total += wall
            if traced:
                sums[f"queries.{mod}.wall_s"] += wall
                ctx.stats.take_jobs()  # exec jobs are not build jobs
            elif k >= 0:
                self.walls.append(wall)
            spark.catalog.clearCache()
            gc.collect()
        if traced:
            self.traced.append(sums)
        elif k >= 0:
            self.passes.append(total)

    def layers(self, selfs: dict[str, list[float]]) -> dict[str, float]:
        from typebus_spark.queries.dataflow import LAST_STAGED_WIRE_WALL
        from typebus_spark.streaming.mux import LAST_SCAFFOLD_WALL

        n = len(self.traced)
        got = {key: mean([p[key] for p in self.traced]) for key in PASS_SUMS}
        got["queries.build_s"] = sum(selfs.get("queries.build", [])) / n
        got["queries.exec_s"] = sum(selfs.get("queries.exec", [])) / n
        got["streaming.mux.scaffold_s"] = LAST_SCAFFOLD_WALL.get(self.sf_dir, 0.0)
        got["queries.dataflow.staged_wire_s"] = LAST_STAGED_WIRE_WALL.get(self.sf_dir, 0.0)
        return got
