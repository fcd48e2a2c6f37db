"""DuckDB oracle check of curation_batch's results.

The workload keeps each query's first result as its reference (parquet)
and checks every later result against that reference's digest. Here each
reference is compared with the query's `SparkEntry.oracleSql` run in DuckDB
over the same corpus: columns in name order, rows sorted, equal dtypes and
equal values. An op (one pass over the queries) counts as correct only if
each of its results matched its reference digest and every reference
passed.
"""
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb


def _frame(con, sql):
    df = con.sql(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.dtypes.tolist() != want.dtypes.tolist():
        return f"dtypes {got.dtypes.tolist()} != {want.dtypes.tolist()}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f":
            ok = all((math.isnan(x) and math.isnan(y)) or x == y
                     for x, y in zip(a.astype(float), b.astype(float)))
        else:
            ok = a.astype(str).tolist() == b.astype(str).tolist()
        if not ok:
            return f"column {c} differs"
    return None


def verdicts(cur):
    """query -> None when its reference equals the oracle, else why not."""
    with open(os.path.join(cur, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{cur}/data/{t}.parquet/*.parquet'")

    def verdict(q):
        ref = os.path.join(cur, "reference", q)
        # one cursor per thread; DuckDB runs the queries side by side,
        # since the slowest (q37's clustering) is mostly single-threaded
        c = con.cursor()
        try:
            return _same(_frame(c, f"SELECT * FROM '{ref}/*.parquet'"),
                         _frame(c, sql[q]))
        except Exception as e:  # a failing oracle query fails the check
            return f"error: {e}"
        finally:
            c.close()

    qs = [q for q in sorted(sql) if os.path.isdir(os.path.join(cur, "reference", q))]
    with ThreadPoolExecutor(max_workers=4) as pool:
        out = dict(zip(qs, pool.map(verdict, qs)))
    con.close()
    return out


def apply(res, work):
    """Fold the oracle verdicts into a curation_batch result."""
    v = verdicts(os.path.join(work, "curation"))
    meta = res["meta"]
    meta["oracle"] = {q: ("ok" if why is None else why) for q, why in v.items()}
    refs_ok = len(v) == len(sql_queries(work)) and \
        all(why is None for why in v.values())
    timed = meta["ops"]
    ok = sum(1 for o in timed if o["ok"] and refs_ok)
    res["failed"] = len(timed) - ok
    res["end_to_end"]["ok_frac"] = ok / len(timed)
    res["correct"] = res["correct"] and ok == len(timed)


def sql_queries(work):
    with open(os.path.join(work, "curation", "oracle_sql.json")) as fh:
        return list(json.load(fh))
