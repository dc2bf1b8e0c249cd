"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. The program under test only
ever sees the files written here.

Each table is drawn once from a fixed base seed and then derived for
the run's seed by a seeded permutation of its rows (ids stay with
their rows). Seed 0 is the base table itself. So every seed has the
same size and the same rows, and the program sees them in a different
physical order: the partitioning, the row order inside each task and
every order-dependent path change from seed to seed, while the amount
of work and the correct result stay the same.

- ``write_survey``: a wide BHT survey export (CSV) plus a small
  codebook, shaped like the reference app's uploads: respondent id,
  demographics, top-of-mind brand, ``UA_``/``aa_``/``ever_used_``/
  ``consider_`` brand flag families, bumo, satisfaction, nps_score and
  weight.
- ``write_corpus``: the ``documents`` and ``embeddings`` parquet
  tables with the schema and distributions of the sf fixtures: word
  soup over a 30-word vocabulary, 10-99 words per document, ~5% planted
  near-duplicates (a copy of an earlier document with " dup"
  appended), 20 round-robin sources, 5 languages; unit-norm float32
  64-d embeddings in 10 weakly separated label clusters.
"""

from __future__ import annotations

import csv
import os

import numpy as np

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

GENDER_CODES = {"1": "Male", "2": "Female"}
REGION_CODES = {
    "1": "West Java", "2": "East Java", "3": "Central Java", "4": "Jakarta",
    "5": "Sumatra", "6": "Bali", "7": "Kalimantan", "8": "Sulawesi",
}
AGE_GROUPS = ["18-24", "25-34", "35-44", "45+"]
WEIGHTS = ["0.5", "0.75", "1.25", "1.5", "2.0"]
BASE_SEED = 20240601


def permutation(seed: int, n: int) -> np.ndarray:
    """Row order of the table for ``seed``: identity for seed 0."""
    if seed == 0:
        return np.arange(n)
    return np.random.default_rng([BASE_SEED, seed]).permutation(n)


def brand_names(n_brands: int) -> list[str]:
    # "Bx.." keeps every generated header clear of the mapping
    # heuristics' keywords (rid, sec, age, tom, ...), so the guessed
    # mapping is exactly the intended one
    return [f"Bx{i:03d}" for i in range(n_brands)]


def survey_columns(n_brands: int) -> list[str]:
    brands = brand_names(n_brands)
    return (
        ["resp_id", "gender", "age_group", "region", "city", "tom_brand"]
        + [f"UA_{b}" for b in brands]
        + [f"aa_{b}" for b in brands]
        + [f"ever_used_{b}" for b in brands]
        + [f"consider_{b}" for b in brands]
        + ["bumo", "satisfaction", "nps_score", "weight"]
    )


def _pick(rng, values, n, blank_p=0.0):
    out = np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]
    if blank_p:
        out[rng.random(n) < blank_p] = ""
    return out


def survey_table(seed: int, n_rows: int, n_brands: int) -> dict[str, np.ndarray]:
    """Column name -> array of CSV cell strings ("" is a blank cell)."""
    order = permutation(seed, n_rows)
    return {c: v[order] for c, v in _base_survey(n_rows, n_brands).items()}


def _base_survey(n_rows: int, n_brands: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(BASE_SEED)
    brands = brand_names(n_brands)
    cols: dict[str, np.ndarray] = {
        "resp_id": np.arange(1, n_rows + 1).astype(str).astype(object),
        "gender": _pick(rng, list(GENDER_CODES), n_rows, 0.03),
        "age_group": _pick(rng, AGE_GROUPS, n_rows, 0.03),
        "region": _pick(rng, list(REGION_CODES), n_rows, 0.02),
        "city": _pick(rng, [f"City{i:02d}" for i in range(40)], n_rows, 0.05),
    }
    # brand popularity is skewed, as in real awareness data
    pop = rng.dirichlet(np.full(n_brands, 0.6))
    tom = np.asarray(brands, dtype=object)[rng.choice(n_brands, n_rows, p=pop)]
    tom[rng.random(n_rows) < 0.05] = ""
    padded = rng.random(n_rows) < 0.02
    tom[padded] = [f" {t} " for t in tom[padded]]
    cols["tom_brand"] = tom
    flag_vals = np.asarray(["1", "0", ""], dtype=object)
    for family, rate in (("UA_", 0.4), ("aa_", 0.6), ("ever_used_", 0.3),
                         ("consider_", 0.25)):
        for j, b in enumerate(brands):
            p_sel = min(0.95, rate * pop[j] * n_brands)
            u = rng.random(n_rows)
            cols[f"{family}{b}"] = flag_vals[
                np.where(u < p_sel, 0, np.where(u < 0.92, 1, 2))
            ]
    cols["bumo"] = _pick(rng, brands, n_rows, 0.1)
    cols["satisfaction"] = _pick(rng, ["1", "2", "3", "4", "5"], n_rows, 0.05)
    cols["nps_score"] = _pick(rng, [str(i) for i in range(11)], n_rows, 0.05)
    cols["weight"] = _pick(rng, WEIGHTS, n_rows)
    assert list(cols) == survey_columns(n_brands)
    return cols


def write_survey(out_dir: str, seed: int, n_rows: int, n_brands: int) -> dict:
    """Write ``survey.csv`` and ``codebook.csv``; returns their paths
    and sizes."""
    os.makedirs(out_dir, exist_ok=True)
    cols = survey_table(seed, n_rows, n_brands)
    names = list(cols)
    survey = os.path.join(out_dir, "survey.csv")
    rows = np.stack([cols[c] for c in names], axis=1)
    with open(survey, "w", newline="") as f:
        f.write(",".join(names) + "\n")
        f.writelines(",".join(r) + "\n" for r in rows.tolist())
    codebook = os.path.join(out_dir, "codebook.csv")
    with open(codebook, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["column", "value", "label"])
        w.writerows(["gender", k, v] for k, v in GENDER_CODES.items())
        w.writerows(["region", k, v] for k, v in REGION_CODES.items())
    return {
        "survey": survey,
        "codebook": codebook,
        "rows": n_rows,
        "columns": len(names),
        "bytes": os.path.getsize(survey) + os.path.getsize(codebook),
    }


def documents_table(seed: int, n_docs: int):
    import pandas as pd

    rng = np.random.default_rng(BASE_SEED)
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    # planted near-duplicates: an earlier document plus a " dup" marker
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    base = pd.DataFrame({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in doc_id],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    return base.iloc[permutation(seed, n_docs)].reset_index(drop=True)


def embeddings_table(seed: int, n_vecs: int):
    import pyarrow as pa

    rng = np.random.default_rng(BASE_SEED + 1)
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    v = centers[label] + rng.normal(scale=1 / np.sqrt(EMB_DIM), size=(n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    order = permutation(seed, n_vecs)
    v, label = v[order], label[order]
    return pa.table({
        "vec_id": pa.array(order.astype(np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row
    group each, like the fixtures); returns the directory and sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = pa.Table.from_pandas(documents_table(seed, n_docs), preserve_index=False)
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
    }
    pq.write_table(docs, paths["documents"])
    pq.write_table(embeddings_table(seed, n_vecs), paths["embeddings"])
    return {
        "dir": out_dir,
        "rows": {"documents": n_docs, "embeddings": n_vecs},
        "columns": {"documents": 5, "embeddings": 3},
        "bytes": sum(os.path.getsize(p) for p in paths.values()),
    }
