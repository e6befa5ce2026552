#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named queries.

Usage:
    python scripts/capture_plans.py <outdir> [query ...]

With no query names, captures the bench.py HEADLINE set. Writes one
<outdir>/<query>_<tag>.txt per query where <tag> comes from
$PLAN_TAG (default "before"). Data dir from $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) — the bench's own contract.

The captured plan is the ANALYZED/optimized physical plan before
execution (AdaptiveSparkPlan isFinalPlan=false where AQE applies);
that is the artifact plan claims are diff-checked against.

Expression ids (``#123``, ``#123L``), ``plan_id=123``, lambda
variable names (``lambda x_539``) and RDD ids
(``MapPartitionsRDD[360]``) are numbered by JVM-wide counters, so
they are written as ``#N`` / ``#NL``, ``plan_id=N``, ``lambda x_N``
and ``RDD[N]``: two runs of the same code give byte-identical files,
and a plain ``diff`` of two captures shows only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_LAMBDA_VAR = re.compile(r"(lambda [A-Za-z]+)_\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")


def normalize(plan: str) -> str:
    """``plan`` with counter-numbered ids replaced by placeholders."""
    plan = _EXPR_ID.sub("#N", plan)
    plan = _PLAN_ID.sub("plan_id=N", plan)
    plan = _LAMBDA_VAR.sub(r"\1_N", plan)
    return _RDD_ID.sub("RDD[N]", plan)


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    tag = os.environ.get("PLAN_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)

    spark = get_spark(app_name="conversadocs-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    import contextlib
    import io as _io

    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = QUERIES[name](spark, sf_dir)
        # public API (ADVICE r15): explain() prints to stdout — capture
        # it instead of reaching through df._sc._jvm internals.
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue())
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
