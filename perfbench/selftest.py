"""Self-test of the output check (python3 perfbench/run.py --selftest).

Feeds the DuckDB compare deliberately wrong "Spark outputs" next to a right
one, and checks that each wrong one is refused for the right reason and
counted as failed by the same accounting a real run uses. Needs no Spark.
Also checks that run.py's metric lists match BENCHMARK.json when present.
"""
import json
import os
import shutil

import gen
import oracle
import run

ORACLE = """SELECT user_id, count(*) AS n, sum(value::DECIMAL(38,6)) AS s,
            CASE WHEN user_id = 0 THEN 'NaN'::DOUBLE ELSE avg(value) END AS m
            FROM events GROUP BY user_id"""

# name -> (SELECT over the oracle table `o` written as the Spark output, expected verdict)
CASES = {
    "right": ("SELECT * FROM o", "OK"),
    "nan_as_null": ("SELECT * REPLACE (CASE WHEN user_id = 0 THEN NULL ELSE m END AS m) "
                    "FROM o", "OK"),
    "int_width": ("SELECT * REPLACE (n::INTEGER AS n) FROM o", "OK"),
    "wrong_value": ("SELECT * REPLACE (CASE WHEN user_id = 3 THEN n + 1 ELSE n END AS n) "
                    "FROM o", "VALUES"),
    "decimal_as_double": ("SELECT * REPLACE (s::DOUBLE AS s) FROM o", "TYPE"),
    "decimal_scale": ("SELECT * REPLACE (s::DECIMAL(38,2) AS s) FROM o", "TYPE"),
    "missing_row": ("SELECT * FROM o WHERE user_id <> 5", "ROWS"),
    "duplicate_row": ("SELECT * FROM o WHERE user_id <> 5 UNION ALL "
                      "SELECT * FROM o WHERE user_id = 6", "VALUES"),
    "renamed_column": ("SELECT user_id, n AS cnt, s, m FROM o", "SCHEMA"),
}


def main():
    root = os.path.join(os.getcwd(), ".bench_run", f"selftest-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        data, check = os.path.join(root, "data"), os.path.join(root, "check")
        gen.events(7, data, n=3000, users=40)
        con = oracle.connect(root, 1)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet')")
        con.execute(f"CREATE TABLE o AS {ORACLE}")
        for name, (sql, _) in CASES.items():
            os.makedirs(os.path.join(check, name))
            con.execute(f"COPY ({sql}) TO '{check}/{name}/part-0.parquet' (FORMAT PARQUET)")
        verdicts, _ = oracle.check(con, "ev_batch", data, check,
                                   {name: ORACLE for name in CASES})
        problems = [f"{n}: expected {want}, got {verdicts[n]}"
                    for n, (_, want) in CASES.items() if not verdicts[n].startswith(want)]

        # every execution of an item whose checked output is wrong counts as failed
        res = {"items": {n: {"execs": 5, "failed": 0, "error": None}
                         for n in CASES}}
        attempted, failed, bad = run.account(res, verdicts)
        n_bad = sum(1 for _, want in CASES.values() if want != "OK")
        if (attempted, failed, sorted(bad)) != (5 * len(CASES), 5 * n_bad,
                                               sorted(n for n, (_, w) in CASES.items()
                                                      if w != "OK")):
            problems.append(f"accounting: attempted={attempted} failed={failed} bad={sorted(bad)}")

        bench = os.path.join(os.getcwd(), "BENCHMARK.json")
        if os.path.exists(bench):
            with open(bench) as f:
                b = json.load(f)
            for key, ours in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
                theirs = [(m["name"], m["unit"]) for m in b[key]]
                if theirs != list(ours):
                    problems.append(f"BENCHMARK.json {key} differs from run.py")
            if sorted(w["name"] for w in b["workloads"]) != sorted(run.WORKLOADS):
                problems.append("BENCHMARK.json workloads differ from run.py")

        for p in problems:
            print("SELFTEST FAIL", p)
        print(f"selftest: {len(CASES) - len(problems)}/{len(CASES)} compare cases as expected; "
              f"failed_frac {failed}/{attempted}; {'ok' if not problems else 'FAILED'}")
        return 1 if problems else 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
