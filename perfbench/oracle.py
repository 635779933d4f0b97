"""Correctness of the query_mix results the harness dumped (untimed).

Oracle-covered queries must equal the DuckDB result of SparkEntry.oracleSql
exactly: same columns, same rows in emitted order, values equal (numbers
compared as floats). DuckDB results are cached by SQL text and fixture on
first use. Rows-only queries must have their exact row count and recall at or
above the floors below, measured on the parent commit of the benchmark.
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# DuckDB output types whose values reach Python with the same
# representation Spark's parquet has; anything else (HUGEINT, DECIMAL) is
# a hazard the oracle SQL must cast away.
PLAIN_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
               "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN", "BLOB",
               "TIMESTAMP WITH TIME ZONE"}

# Rows-only queries at sf0.01: exact row count, and a recall floor.
# q_sim16 emits its recall against brute-force truth itself; q_sim4's recall
# is taken here against DuckDB's exact cosine top-11 of vec 0 (the IVF probe
# with nprobe=4 finds 5 of them); q_dedup9 (SemDedup survivors) has no
# ground truth beyond its count.
ROWS_ONLY = {
    "q_sim16": {"rows": 11, "min_recall": 1.0},
    "q_sim4": {"rows": 11, "min_recall": 5 / 11},
    "q_dedup9": {"rows": 218},
}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _equal(a, b):
    return all(x == y or (isinstance(x, (int, float)) and isinstance(y, (int, float))
                          and float(x) == float(y))
               for x, y in zip(map(_norm, a), map(_norm, b)))


def _connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    return con


def _spark_rows(con, path):
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()]
    sel = ",".join(f'"{c}"' for c in sorted(cols))
    return sorted(cols), con.execute(
        f"SELECT {sel} FROM read_parquet('{path}/*.parquet')").fetchall()


def _oracle_rows(con, fixture, sql, cache):
    """DuckDB result with columns sorted by name, cached as parquet."""
    key = hashlib.sha256((fixture + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache, key + ".parquet")
    meta = os.path.join(cache, key + ".json")
    if not os.path.isfile(meta):
        con.execute(f"CREATE OR REPLACE VIEW __o AS {sql}")
        desc = con.execute("DESCRIBE __o").fetchall()
        hazards = [(c, t) for c, t, *_ in desc if t not in PLAIN_TYPES]
        cols = sorted(r[0] for r in desc)
        os.makedirs(cache, exist_ok=True)
        if not hazards:
            sel = ",".join(f'"{c}"' for c in cols)
            con.execute(f"COPY (SELECT {sel} FROM __o) TO '{path}' (FORMAT PARQUET)")
        with open(meta, "w") as f:
            json.dump({"cols": cols, "hazards": hazards}, f)
    with open(meta) as f:
        m = json.load(f)
    if m["hazards"]:
        return m["cols"], None, m["hazards"]
    sel = ",".join(f'"{c}"' for c in m["cols"])
    return m["cols"], con.execute(f"SELECT {sel} FROM read_parquet('{path}')").fetchall(), None


def _recall_q_sim4(con, rows, cols):
    truth = {r[0] for r in con.execute(
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id FROM embeddings, q "
        "ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id LIMIT 11").fetchall()}
    got = {r[cols.index("vec_id")] for r in rows}
    return len(got & truth) / len(truth)


def check_results(fixture, results, cache):
    """One check record per dumped query: {"name", "ok", "detail", "query"}."""
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = _connect(fixture)
    out = []
    names = sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d)))
    for q in names:
        try:
            ok, detail = _check_one(con, fixture, cache, q, oracle_sql.get(q),
                                    os.path.join(results, q))
        except Exception as e:  # a broken dump or oracle fails the query's check
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append({"name": f"query_mix.result.{q}", "ok": ok, "detail": detail, "query": q})
    return out


def _check_one(con, fixture, cache, q, sql, path):
    cols, rows = _spark_rows(con, path)
    if sql is None:
        floor = ROWS_ONLY.get(q)
        if floor is None:
            return False, "no oracle SQL and no rows-only floor"
        if len(rows) != floor["rows"]:
            return False, f"{len(rows)} rows, expected {floor['rows']}"
        if "min_recall" in floor:
            recall = (_recall_q_sim4(con, rows, cols) if q == "q_sim4"
                      else min(r[cols.index("recall")] for r in rows))
            if recall < floor["min_recall"]:
                return False, f"recall {recall} below floor {floor['min_recall']}"
        return True, ""
    o_cols, o_rows, hazards = _oracle_rows(con, fixture, sql, cache)
    if hazards:
        return False, f"oracle output types {hazards}"
    if cols != o_cols:
        return False, f"columns {cols} != oracle {o_cols}"
    if len(rows) != len(o_rows):
        return False, f"{len(rows)} rows != oracle {len(o_rows)}"
    for i, (a, b) in enumerate(zip(rows, o_rows)):
        if not _equal(a, b):
            return False, f"row {i}: {a} != oracle {b}"
    return True, ""
