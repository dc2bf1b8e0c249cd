"""Dump ``explain("formatted")`` for named queries to plan files.

Plan evidence on demand: for each query name, build the DataFrame
via ``queries()`` and write its formatted physical plan to
``plans/<tag>/<query>_<suffix>.txt``, with its size and Exchange
count on stdout. The dumps are regenerated, not committed
(``/plans/`` is git-ignored); compare a before and an after dump to
check a plan claim.

Usage:
    python tools/explain_dump.py <tag> <suffix> <query> [query ...]
    # e.g. python tools/explain_dump.py r12 before split_leakage_audit

Env: SPARK_GRAFT_SF_DIR selects the fixture dir (default sf0.1 — the
bench scale, so plan shapes match what the bench times).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    import __spark_entry__ as mod

    from bht_etl_app_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    qs = mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exch = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_exch} Exchange -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
