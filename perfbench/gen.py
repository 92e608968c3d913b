"""Seeded input generation for the benchmark workloads.

Every workload's inputs are a pure function of (workload, seed): the same
seed always yields byte-identical files. Inputs are cached per seed under
`perfbench/.work/data/<workload>/seed-<n>/` and described by `sizes.json`
(rows per table, bytes on disk), which the harness reads to compute
`rows_per_s`.

- pivot_tall draws fresh i.i.d. rows from the reference's purchase schema
  (Quarter, Product, Brand, Sales, ShopID) per seed.
- curation_text draws a seeded sample of the sf0.1 documents
  (`corpus/documents.parquet`, see corpus/make_corpus.py). It samples whole
  near-duplicate clusters, the same number of each cluster size for every
  seed, so the duplicate pairs the queries find, and so their work, stay
  the same from seed to seed; the seed picks which documents and relabels
  `doc_id`.
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

# Sizes. Chosen so that one operation of each workload takes well under a
# second to a few seconds at local[4], giving enough samples in a run.
TALL_ROWS = 1_000_000
TALL_PRODUCTS = 100_000
DOCS = 500

BRANDS = ["Nike", "Reebok", "Addidas"]

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".work", "data")
CORPUS = os.path.join(HERE, "corpus", "documents.parquet")
KEEP_SEEDS = 2


def _rng(seed):
    return np.random.Generator(np.random.PCG64(seed))


def _copy(con, sql, path, fmt):
    opts = "FORMAT csv, HEADER true" if fmt == "csv" else "FORMAT parquet"
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")


def gen_pivot_tall(con, rng, out):
    n = TALL_ROWS
    q = rng.integers(1, 5, n)
    prod = rng.integers(0, TALL_PRODUCTS, n)
    # 95% on the declared brand list, 5% an undeclared brand (skip mode
    # drops those records from every cell)
    brand = rng.integers(0, len(BRANDS), n)
    brand = np.where(rng.random(n) < 0.05, len(BRANDS), brand)
    sales = rng.integers(1, 101, n)
    shop = rng.integers(1, 501, n)
    con.register("raw", pd.DataFrame({"q": q, "prod": prod, "brand": brand,
                                      "sales": sales, "shop": shop}))
    names = "['" + "','".join(BRANDS + ["Puma"]) + "']"
    _copy(con, f"""SELECT 'Q' || q AS Quarter,
                          'P' || lpad(CAST(prod AS VARCHAR), 6, '0') AS Product,
                          {names}[brand + 1] AS Brand,
                          sales AS Sales, shop AS ShopID
                   FROM raw""", os.path.join(out, "purchases.csv"), "csv")
    return {"purchases": n}


def gen_curation_text(con, rng, out):
    docs = con.execute(f"SELECT * FROM read_parquet('{CORPUS}') ORDER BY doc_id").df()
    clusters = docs.groupby("cluster").size()
    share = DOCS / len(docs)
    # The same number of clusters of each size for every seed: a tenth of
    # the pairs, triples, ... (rounded), then singletons up to DOCS.
    picked = []
    for size in sorted(clusters.unique(), reverse=True):
        ids = clusters.index[clusters == size].to_numpy()
        k = round(len(ids) * share) if size > 1 else DOCS - int(clusters[picked].sum())
        picked += rng.choice(ids, k, replace=False).tolist()
    sample = docs[docs["cluster"].isin(picked)]
    n = len(sample)
    order = rng.permutation(n)
    sample = sample.iloc[order].reset_index(drop=True)
    # doc_id stays dense, 0..n-1: text_bleu/rouge/chrf pair doc_id with doc_id + 1.
    sample["doc_id"] = rng.permutation(n).astype(np.int64)
    con.register("docs", sample.drop(columns=["cluster"]))
    _copy(con, "SELECT doc_id, text, lang, source, n_chars FROM docs",
          os.path.join(out, "documents.parquet"), "parquet")
    return {"documents": n}


GENERATORS = {
    "pivot_tall": gen_pivot_tall,
    "curation_text": gen_curation_text,
}


def ensure_inputs(workload, seed):
    """Return the input directory for (workload, seed), generating it on
    first use. Older seeds of the workload are evicted past KEEP_SEEDS."""
    wdir = os.path.join(DATA_ROOT, workload)
    out = os.path.join(wdir, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "sizes.json")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect(config={"threads": 1})
    rows = GENERATORS[workload](con, _rng(seed), out)
    con.close()
    files = {f: os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)}
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "rows": rows,
                   "bytes": files}, f, indent=1, sort_keys=True)
    seeds = sorted((os.path.join(wdir, d) for d in os.listdir(wdir)),
                   key=os.path.getmtime, reverse=True)
    for old in seeds[KEEP_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out
