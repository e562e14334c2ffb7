"""DuckDB oracle and output check.

Every checked Spark output is compared with the answer DuckDB computes from
the same generated parquet, using tools/check.py's canonicalization: columns
matched by name, rows compared as a multiset (sorted), and each cell by
value and by representation class, so that an integer never matches a
decimal, a decimal never matches a double, and decimals match only at the
same scale. NaN folds to NULL, as in check.py. The compare runs inside
DuckDB (EXCEPT ALL in both directions), which keeps it cheap for the
million-row outputs of core_scale.

The core_scale oracle SQL below is written from each call's documented
semantics against the generated table only; it never reads Spark output.
"""
import glob
import os
import re
import time

import duckdb

# The core input with the library's conventions: ts in epoch-µs, seq = event_id.
CORE_PRELUDE = [
    """CREATE TEMP TABLE b AS SELECT event_id, epoch_us(ts) AS ts, user_id,
       event_type, value, event_id AS seq FROM events""",
    """CREATE TEMP TABLE bn AS SELECT *, row_number() OVER (
       PARTITION BY user_id ORDER BY ts, seq) AS rn FROM b""",
]

CORE_ORACLES = {
    "core.window.count": "SELECT user_id, seq, (rn - 1) // 10 AS window_id FROM bn",
    "core.asof.take": """SELECT l.user_id, l.ts, l.seq, l.value AS v, p.value AS last_purchase
        FROM (SELECT * FROM b WHERE event_type <> 'purchase') l
        ASOF LEFT JOIN (SELECT * FROM b WHERE event_type = 'purchase') p
          ON l.user_id = p.user_id AND l.ts >= p.ts""",
    # only closed 10-event buckets are emitted; values are multiples of 1/4,
    # so the double sum is exact in any order
    "streaming.call.count_slices": """SELECT user_id::VARCHAR AS k, (rn - 1) // 10 AS "windowId",
        count(*) AS n, sum(value) AS "sum", min(value) AS mn, max(value) AS mx
        FROM bn GROUP BY user_id, (rn - 1) // 10 HAVING count(*) = 10""",
    "functions.ewma": f"""SELECT user_id, ts // {24 * 3600000000} AS window_id,
        list_reduce(list(value ORDER BY ts, seq), (acc, x) -> 0.25*x + 0.75*acc) AS ewma
        FROM b GROUP BY 1, 2""",
}


def connect(scratch, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{scratch}'")
    return con


def type_class(t):
    """Representation class of a DuckDB type (check.py's cell_repr: int
    width is not representation; decimal scale and float width are)."""
    t = t.upper()
    if t.endswith("[]"):
        return type_class(t[:-2]) + "[]"
    if t.startswith("STRUCT("):
        return "struct"
    if re.fullmatch(r"U?(TINYINT|SMALLINT|INTEGER|BIGINT|HUGEINT)", t):
        return "int"
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", t.replace(" ", ""))
    if m:
        return f"decimal:{m.group(2)}"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


def _columns(con, rel):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}


def compare(con, spark_glob, oracle_sql):
    """'OK' or the first difference between the Spark output files and the
    oracle answer. Returns (verdict, oracle seconds)."""
    files = glob.glob(spark_glob)
    if not files:
        return "NO-SPARK-OUTPUT", 0.0
    t0 = time.perf_counter()
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql}")
    duck_s = time.perf_counter() - t0
    con.execute("CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_parquet("
                + "[" + ",".join(f"'{f}'" for f in sorted(files)) + "])")
    sc, oc = _columns(con, "s"), _columns(con, "o")
    if sorted(sc) != sorted(oc):
        return f"SCHEMA spark={sorted(sc)} oracle={sorted(oc)}", duck_s
    for c in sorted(sc):
        if type_class(sc[c]) != type_class(oc[c]):
            return f"TYPE col={c} spark={sc[c]} oracle={oc[c]}", duck_s

    def proj(types):
        return ", ".join(
            f'CASE WHEN isnan("{c}") THEN NULL ELSE "{c}" END AS "{c}"'
            if types[c].upper() in ("DOUBLE", "FLOAT") else f'"{c}"'
            for c in sorted(types))

    ns, no = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("s", "o"))
    if ns != no:
        return f"ROWS spark={ns} oracle={no}", duck_s
    for a, b in (("s", "o"), ("o", "s")):
        diff = con.execute(
            f"SELECT count(*) FROM (SELECT {proj(sc)} FROM {a} EXCEPT ALL "
            f"SELECT {proj(oc)} FROM {b})").fetchone()[0]
        if diff:
            return f"VALUES {diff} rows of {'spark' if a == 's' else 'oracle'} unmatched", duck_s
    return "OK", duck_s


def check(con, workload, data_dir, check_dir, oracles):
    """Verdict per item and the DuckDB time for the oracle answers."""
    if workload == "core_scale":
        src = os.path.join(data_dir, "events.parquet", "*.parquet")
    else:
        src = os.path.join(data_dir, "events.parquet")
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{src}')")
    duck_s = 0.0
    if workload == "core_scale":
        t0 = time.perf_counter()
        for stmt in CORE_PRELUDE:
            con.execute(stmt)
        duck_s += time.perf_counter() - t0
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        try:
            verdicts[name], s = compare(con, os.path.join(check_dir, name, "*.parquet"), sql)
            duck_s += s
        except duckdb.Error as e:
            verdicts[name] = f"ORACLE-ERROR {type(e).__name__}: {e}"[:300]
    return verdicts, duck_s
