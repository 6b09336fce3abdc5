"""Dump ``.explain("formatted")`` for inventory queries to files.

Usage:
    python tools/dump_plans.py --root <repo-or-worktree> \
        --out plans/r13 --suffix _before --queries q_a,q_b,...
    python tools/dump_plans.py --compare plans/r15

``--compare DIR`` checks every ``*_before.txt``/``*_after.txt`` pair in
DIR for equality once the per-run values are normalized (expression,
RDD and exchange plan ids, uuid seeds, current-timestamp literals) and
exits non-zero on any difference.

Writes ``<out>/<query><suffix>.txt`` per query. Plans are captured with
the same ``get_spark`` session shape the bench uses, so Exchange counts
and join strategies match the benched plans. Queries whose fn() runs
jobs at build time (streams, drains, trainers) still produce a plan for
the RETURNED frame — the machinery cost lives in the build, which the
plan cannot show; those plans are still useful for the final-frame
shape (noted in OPTIMIZATION_r13.md where it matters).
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

# per-run values in a formatted plan: expression ids, RDD ids, exchange
# plan ids, uuid() seeds and the folded current_timestamp literal
_RUN_VALUES = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(Some(N))"),
    (re.compile(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.\d+)?"), "TS"),
)


def normalize(plan: str) -> str:
    for pat, sub in _RUN_VALUES:
        plan = pat.sub(sub, plan)
    return plan


def compare(plan_dir: str) -> int:
    diffs = 0
    for before in sorted(glob.glob(os.path.join(plan_dir, "*_before.txt"))):
        after = before[: -len("_before.txt")] + "_after.txt"
        if not os.path.exists(after):
            continue
        with open(before) as a, open(after) as b:
            same = normalize(a.read()) == normalize(b.read())
        diffs += not same
        name = os.path.basename(before)[: -len("_before.txt")]
        print(f"{name}: {'same' if same else 'DIFFERENT'}")
    return 1 if diffs else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--compare", metavar="DIR")
    ap.add_argument("--root")
    ap.add_argument("--out")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--queries")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    if args.compare:
        sys.exit(compare(args.compare))
    if not (args.root and args.out and args.queries):
        ap.error("--root, --out and --queries are required to dump plans")

    sys.path.insert(0, args.root)
    from typebus_spark import get_spark
    from typebus_spark.suite import QUERIES

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in args.queries.split(","):
        name = name.strip()
        if not name:
            continue
        q = QUERIES.get(name)
        if q is None:
            print(f"{name}: NOT FOUND", file=sys.stderr)
            continue
        try:
            df = q.fn(spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            txt = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
