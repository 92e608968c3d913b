"""Order-insensitive result digests and the DuckDB oracle check.

Each registry query's warmup output is written by the harness as parquet;
this module replays the query's `SparkEntry.oracleSql` twin in DuckDB over
the same input tables and compares the two results as multisets of rows.
"""
import decimal
import hashlib
import json
import math
import os
import sys
import time

import duckdb

MASK = (1 << 64) - 1


def canon(v):
    """A canonical, type-tagged text form of one value."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        return "f" + repr(v + 0.0)          # + 0.0 folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return "d" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "l[" + "\x1e".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m{" + "\x1e".join(k + "=" + canon(x) for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return "t" + v.isoformat()
    return "o" + repr(v)


def digest(columns, rows):
    """(row count, wrapping 64-bit sum of per-row hashes, sorted column
    names). Columns are visited in name order, so neither row order nor
    column order changes the digest; any changed value does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(
            hashlib.md5(line.encode("utf-8", "surrogatepass")).digest()[:8], "little")) & MASK
        n += 1
    return n, total, tuple(sorted(columns))


def _digest_sql(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def check(data_dir, dump_dir, oracle_sql, reference, tmp_dir):
    """Compare each query's dumped Spark output with its DuckDB oracle.

    `reference` maps query name -> the harness's digest of that output;
    a verdict is cached per seed against it, so a repeated run of the same
    seed whose output digest is unchanged does not replay the oracle.
    Returns {query: "ok" | reason}."""
    cache_path = os.path.join(data_dir, "oracle.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)), "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        hit = cache.get(name)
        if hit and hit["reference"] == reference.get(name) and hit["verdict"] == "ok":
            verdicts[name] = "ok"
            continue
        if sql is None:
            verdicts[name] = "no oracle"
            continue
        t0 = time.time()
        try:
            got = _digest_sql(con, f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')")
            want = _digest_sql(con, sql)
            if got == want:
                verdicts[name] = "ok"
            else:
                verdicts[name] = (f"spark {got[0]} rows {got[1]:016x} {list(got[2])} != "
                                  f"oracle {want[0]} rows {want[1]:016x} {list(want[2])}")
        except Exception as e:   # a broken oracle or dump is a failed check
            verdicts[name] = f"oracle error: {e}"[:300]
        print(f"[perfbench] oracle {name}: {time.time() - t0:.1f} s", file=sys.stderr)
        cache[name] = {"reference": reference.get(name), "verdict": verdicts[name]}
    con.close()
    with open(cache_path, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    return verdicts
