"""Wide-survey-shaped stress tests for the §2 aggregate kernels
(VERDICT r5 item #7): real survey exports are WIDE — one column per
brand/attribute/wave cell, routinely 10^3 columns — and A6/A10's
single-pass design concentrates all of them into ONE aggregate /
unpivot expression. These tests pin that the kernels survive 1000
columns (expression-count ceiling: Spark's whole-stage codegen falls
back to interpreted mode past spark.sql.codegen.maxFields, and a
>64KB generated method falls back per-operator — both silent, both
must stay CORRECT), with values checked against closed-form
expectations computed in Python from the generator formula.

The fixture is generated Spark-side (spark.range + column
expressions), never driver-side: 1000 columns x 20k rows in the
test. The same shape at 10^6 rows is recorded in PERFORMANCE.md
("Wide-survey scale").
"""

import pytest
from pyspark.sql import functions as F

from bht_etl_app_spark.operators.aggregates import (
    full_tabulation,
    selected_counts,
)

N_COLS = 1000
N_ROWS = 20_000


def make_wide_survey(spark, n_rows: int, n_cols: int):
    """Deterministic wide survey frame ``(id, q0000..q{n-1})``:
    column i cycles "1" / "0" / "" / NULL with period 7 phased by i —
    ``(id + i) % 7``: 0-2 -> "1" (selected), 3-4 -> "0", 5 -> "",
    6 -> NULL. Closed-form per-column counts follow from the cycle.
    """
    cols = [
        F.when((F.col("id") + i) % 7 <= 2, F.lit("1"))
        .when((F.col("id") + i) % 7 <= 4, F.lit("0"))
        .when((F.col("id") + i) % 7 == 5, F.lit(""))
        .alias(f"q{i:04d}")
        for i in range(n_cols)
    ]
    return spark.range(n_rows).select(F.col("id"), *cols)


def _phase_counts(n_rows: int, i: int) -> dict[int, int]:
    """How many ids in [0, n_rows) land on each (id+i)%7 phase."""
    base, rem = divmod(n_rows, 7)
    counts = {p: base for p in range(7)}
    for k in range(rem):  # ids n_rows-rem .. n_rows-1? No: phases of id=0..rem-1 shifted by i
        counts[(k + i) % 7] += 1
    return counts


@pytest.fixture(scope="module")
def wide(spark):
    return make_wide_survey(spark, N_ROWS, N_COLS)


def test_selected_counts_survives_1000_columns(wide):
    """A6/A7: one conditional aggregate over 1000 columns — 1000
    partial sums in a single map-side agg — matches the closed-form
    selected count per column ("1" phases only; "0"/""/NULL are not
    selected under the sel-predicate). Also pins the plan: ONE scan,
    ONE exchange (the 1-row partial->final agg handoff) — no
    per-column scan loop, no raw-row shuffle."""
    qcols = [c for c in wide.columns if c != "id"]
    out = selected_counts(wide, qcols)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range") == 1  # one source scan
    assert plan.count("Exchange") == 1
    got = {r["brand"]: r["count"] for r in out.collect()}
    assert len(got) == N_COLS
    for i in (0, 1, 6, 499, 998, 999):
        pc = _phase_counts(N_ROWS, i)
        assert got[f"q{i:04d}"] == pc[0] + pc[1] + pc[2], f"col {i}"


def test_full_tabulation_survives_1000_columns(wide):
    """A10: ONE unpivot + groupBy for all 1000 columns. Every column
    yields exactly the 4 buckets {"1","0","","nan"}, each with its
    closed-form count; total mass = rows x cols."""
    qcols = [c for c in wide.columns if c != "id"]
    out = full_tabulation(wide, qcols).collect()
    assert len(out) == N_COLS * 4
    mass = sum(r["count"] for r in out)
    assert mass == N_ROWS * N_COLS
    by_col = {}
    for r in out:
        by_col.setdefault(r["column"], {})[r["value"]] = r["count"]
    for i in (0, 7, 500, 999):
        pc = _phase_counts(N_ROWS, i)
        exp = {
            "1": pc[0] + pc[1] + pc[2],
            "0": pc[3] + pc[4],
            "": pc[5],
            "nan": pc[6],
        }
        assert by_col[f"q{i:04d}"] == exp, f"col {i}"
