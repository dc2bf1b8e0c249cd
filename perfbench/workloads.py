"""Benchmark workloads: what one pass runs and how its outputs are
checked.

A workload generates its inputs from the seed (``gen.py``), then runs
passes. A pass is a list of operations run back to back by one client
thread; each operation has a build phase (constructing the result,
including any Spark jobs the program runs eagerly) and an action phase
(the sink or ``collect`` that materializes it). Every operation's
output is checked against an independent reference computed once per
run, outside the timed region:

- ``survey_bundle``: the written JSON bundle against the pandas
  re-implementation of the reference kernels (``tests/pandas_ref.py``)
  over the generated CSV, and the parquet bundle's row counts against
  the JSON bundle;
- fixture queries: the collected rows against the contract's
  ``oracle_sql()`` run in DuckDB over the generated parquet files,
  normalized as ``tools/check_oracle.py`` does.

Each reference is reduced to a digest, so every pass is checked
against the same verified result.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Operation:
    name: str
    build: Callable[[Any], Any]           # spark -> built result
    act: Callable[[Any], Any]             # built -> materialized result (timed)
    digest: Callable[[Any], str]          # output -> digest
    output: Callable[[Any], Any] = lambda result: result  # result -> output (untimed)
    frames: Callable[[Any], list] = lambda built: []  # DataFrames for catalyst reads
    rows: Callable[[Any], int] = lambda out: 0


@dataclass
class Workload:
    name: str
    operations: list[Operation]
    expected: dict[str, str]  # op -> digest of the verified output
    explain: Callable[[str, Any], str]  # op, output -> what differs

    def check(self, op: Operation, out) -> tuple[bool, str]:
        got = op.digest(out)
        if got == self.expected[op.name]:
            return True, ""
        return False, self.explain(op.name, out)


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"_perfbench_{name}", os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- survey

SURVEY_ROWS = 2_000
SURVEY_BRANDS = 15


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(f"{float(v):.10g}")
    return str(v)


def normalize_table(records: list[dict]) -> list[tuple]:
    """Order-insensitive, type-tolerant form of one output table: rows
    as tuples over sorted column names, numbers at 10 significant
    digits (Spark and pandas differ in the last ULP of a mean), NaN
    and NULL alike."""
    if not records:
        return []
    cols = sorted(records[0])
    return sorted(
        (tuple(_norm_cell(r.get(c)) for c in cols) for r in records),
        key=repr,
    )


def normalize_bundle(bundle: dict[str, list[dict]]) -> dict[str, list[tuple]]:
    return {name: normalize_table(recs) for name, recs in sorted(bundle.items())}


def survey_reference(inputs: dict) -> dict[str, list[dict]]:
    """The bundle the pass must write, from the pandas reference
    kernels over the generated CSV."""
    import pandas as pd

    from bht_etl_app_spark.config import MappingConfig
    from bht_etl_app_spark.functions.exprs import brands_from_binary_columns
    from tests import pandas_ref as ref

    pdf = pd.read_csv(inputs["survey"], dtype=str)
    cb = pd.read_csv(inputs["codebook"], dtype=str)
    for col, grp in cb.groupby("column"):
        m = dict(zip(grp["value"], grp["label"]))
        pdf[col] = pdf[col].map(lambda v: m.get(v, v) if isinstance(v, str) else v)
    cfg = MappingConfig.guess(list(pdf.columns))
    out = {
        "awareness_tom": ref.safe_value_counts(pdf[cfg.tom]).rename(
            columns={"option": "brand"}
        ),
        "awareness_unaided": ref.selected_counts(pdf, cfg.unaided),
        "awareness_aided": ref.selected_counts(pdf, cfg.aided),
        "usage_ever_used": ref.selected_counts(pdf, cfg.ever_used),
        "usage_bumo": ref.selected_counts(pdf, cfg.bumo),
        "usage_consider": ref.selected_counts(pdf, cfg.consider),
        "satisfaction_summary": ref.satisfaction_table(pdf, cfg.csat),
        "nps_summary": ref.nps_table(pdf, cfg.nps),
        "tabulation": ref.full_tabulation(pdf),
        "crosstab_gender_region": ref.crosstab_table(
            pdf, "gender", "region", weight_col="weight", percent="row"
        ),
        "tabulation_gender_age_region": ref.multi_dim_tabulation(
            pdf, ["gender", "age_group", "region"], weight_col="weight"
        ),
    }
    tom = pdf[cfg.tom].dropna().str.strip()
    brand_rows = [{"group": "TOM", "brand": b} for b in sorted(set(tom[tom != ""]))]
    for group, cols in (("Unaided", cfg.unaided), ("Aided", cfg.aided),
                        ("Ever Used", cfg.ever_used), ("BUMO", cfg.bumo),
                        ("Consideration", cfg.consider)):
        brand_rows += [{"group": group, "brand": b}
                       for b in brands_from_binary_columns(cols)]
    bundle = {k: v.to_dict(orient="records") for k, v in out.items()}
    bundle["brand_dictionary"] = brand_rows
    return bundle


def survey_inputs(work_dir: str, seed: int) -> dict:
    inputs = gen.write_survey(
        os.path.join(work_dir, "inputs"), seed, SURVEY_ROWS, SURVEY_BRANDS
    )
    inputs["work_dir"] = work_dir
    return inputs


def survey_bundle(inputs: dict) -> Workload:
    from bht_etl_app_spark.config import MappingConfig
    from bht_etl_app_spark.io import (
        apply_codebook,
        read_codebook,
        read_table,
        write_json_bundle,
        write_parquet_bundle,
    )
    from bht_etl_app_spark.pipeline import BhtPipeline

    out_dir = os.path.join(inputs["work_dir"], "out")
    os.makedirs(out_dir, exist_ok=True)
    json_path = os.path.join(out_dir, "bundle.json")
    pq_dir = os.path.join(out_dir, "tables")

    def build(spark):
        raw = read_table(spark, inputs["survey"])
        recoded = apply_codebook(raw, read_codebook(spark, inputs["codebook"]))
        cfg = MappingConfig.guess(recoded.columns)
        pipe = BhtPipeline(cfg, weight_col="weight")
        tables = pipe.transform(recoded)
        tables["crosstab_gender_region"] = pipe.crosstab(
            recoded, "gender", "region", percent="row"
        )
        tables["tabulation_gender_age_region"] = pipe.multi_tabulation(
            recoded, ["gender", "age_group", "region"]
        )
        return tables

    def act(tables):
        write_json_bundle(tables, json_path)
        write_parquet_bundle(tables, pq_dir)

    def output(_):
        with open(json_path) as f:
            bundle = json.load(f)
        return {"bundle": bundle, "parquet_rows": _parquet_rows(pq_dir, bundle),
                "bytes": _tree_bytes(out_dir)}

    def digest(out):
        if out["parquet_rows"] != {k: len(v) for k, v in out["bundle"].items()}:
            return "parquet-bundle-mismatch"
        return _digest(normalize_bundle(out["bundle"]))

    expected_bundle = survey_reference(inputs)

    def explain(op, out):
        got = normalize_bundle(out["bundle"])
        exp = normalize_bundle(expected_bundle)
        bad = sorted(k for k in set(got) | set(exp) if got.get(k) != exp.get(k))
        if out["parquet_rows"] != {k: len(v) for k, v in out["bundle"].items()}:
            bad.append("parquet row counts")
        return f"tables differ from the pandas reference: {bad}"

    op = Operation(
        "survey_bundle", build, act, digest, output,
        frames=lambda tables: list(tables.values()),
        rows=lambda out: sum(len(v) for v in out["bundle"].values()),
    )
    expected = {op.name: _digest(normalize_bundle(expected_bundle))}
    return Workload("survey_bundle", [op], expected, explain)


def _parquet_rows(pq_dir: str, bundle: dict) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {name: pq.read_table(os.path.join(pq_dir, name)).num_rows
            for name in bundle}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ------------------------------------------------------ fixture queries

CORPUS_DOCS = 500
CORPUS_VECS = 500
DEDUP_QUERIES = ["dedup_rep_docs", "near_dup_jaccard_ppjoin", "ann_recall_report_ivf_rpq"]
CURATION_QUERIES = ["curated_verdicts_full"]


def corpus_inputs(work_dir: str, seed: int) -> dict:
    return gen.write_corpus(
        os.path.join(work_dir, "inputs"), seed, CORPUS_DOCS, CORPUS_VECS
    )


def fixture_queries(name: str, queries: list[str], inputs: dict) -> Workload:
    """A workload of contract queries over generated ``documents`` /
    ``embeddings`` tables, each checked against its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as contract

    check_oracle = _load_tool("check_oracle")
    data_dir = inputs["dir"]
    qs, oracles = contract.queries(), contract.oracle_sql()

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected_rows, expected = {}, {}
    for q in queries:
        cur = con.execute(oracles[q])
        cols = [d[0] for d in cur.description]
        expected_rows[q] = (sorted(cols), check_oracle.normalize(cur.fetchall(), cols))
        expected[q] = _digest(expected_rows[q])
    con.close()

    def make(q):
        def digest(out):
            cols, rows = out
            return _digest((sorted(cols), check_oracle.normalize(rows, cols)))

        return Operation(
            q,
            build=lambda spark: qs[q](spark, data_dir),
            act=lambda df: (df.columns, df.collect()),
            digest=digest,
            frames=lambda df: [df],
            rows=lambda out: len(out[1]),
        )

    def explain(q, out):
        cols, rows = out
        got = (sorted(cols), check_oracle.normalize(rows, cols))
        exp = expected_rows[q]
        if got[0] != exp[0]:
            return f"{q}: columns {got[0]} != oracle {exp[0]}"
        return f"{q}: {len(got[1])} rows vs oracle {len(exp[1])}, values differ"

    return Workload(name, [make(q) for q in queries], expected, explain)


#: workload name -> (write its inputs from a seed, load the workload
#: and its checked references from those inputs)
WORKLOADS = {
    "survey_bundle": (survey_inputs, survey_bundle),
    "dedup_search": (
        corpus_inputs, lambda inputs: fixture_queries("dedup_search", DEDUP_QUERIES, inputs)
    ),
    "corpus_curation": (
        corpus_inputs,
        lambda inputs: fixture_queries("corpus_curation", CURATION_QUERIES, inputs),
    ),
}
