#!/usr/bin/env python3
"""Rebuild `documents.parquet`, the base corpus of the curation_text workload.

    python3 perfbench/corpus/make_corpus.py <sf0.1 testdata directory>

The corpus is the repository's sf0.1 `documents` table, read only and
copied unchanged, plus one column, `cluster`: the smallest `doc_id` of the
document's near-duplicate cluster. Clusters are the connected components
of the pairs whose word 3-shingle sets have Jaccard >= 0.5 (the
definition the dedup queries' oracles use). A document without such a
pair is its own cluster. gen.py samples whole clusters, so a sample keeps
the corpus's duplicate structure; the benchmark never reads the testdata
directory itself.
"""
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
TOKENS = r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"


def main():
    src = os.path.join(sys.argv[1], "documents.parquet")
    con = duckdb.connect(config={"threads": 2})
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    pairs = con.execute(f"""
        WITH t AS (SELECT doc_id, {TOKENS} AS w FROM documents),
        ex AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
               FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                     FROM t WHERE len(w) >= 3)),
        sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT ida, idb FROM shared
        JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5""").fetchall()
    parent = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    docs = con.execute("SELECT * FROM documents ORDER BY doc_id").df()
    docs["cluster"] = [root(int(d)) for d in docs["doc_id"]]
    con.register("docs", docs)
    out = os.path.join(HERE, "documents.parquet")
    con.execute(f"COPY (SELECT * FROM docs) TO '{out}' (FORMAT parquet, COMPRESSION zstd)")
    print(f"{len(docs)} documents, {len(pairs)} near-duplicate pairs, "
          f"{docs['cluster'].nunique()} clusters -> {out}")


if __name__ == "__main__":
    main()
