#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks, without Spark: each
check must pass on a correct output and fail on the same output with one
corrupted row.

    python3 perfbench/selftest.py
"""
import os
import tempfile

import duckdb
import pandas as pd

import gen
import run

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")


def scratch():
    os.makedirs(WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=WORK)


def write(con, sql, directory):
    os.makedirs(directory)
    con.execute(f"COPY ({sql}) TO '{directory}/part-0.parquet' (FORMAT parquet)")


def test_query_check():
    df = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "x": [.5, 1.5, 2.5]})
    assert run.canon(df) == run.canon(df.iloc[::-1])
    assert run.canon(run.corrupt(df)) != run.canon(df)

    with scratch() as d:
        in_dir, out_dir = os.path.join(d, "in"), os.path.join(d, "out")
        os.makedirs(in_dir)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * FROM range(5) t(r)) "
                    f"TO '{in_dir}/region.parquet' (FORMAT parquet)")
        con.execute(f"CREATE VIEW region AS SELECT * FROM '{in_dir}/region.parquet'")
        sql = "SELECT r, r * 2 AS d FROM region"
        write(con, sql, os.path.join(out_dir, "outputs", "p0", "q_x"))
        write(con, "SELECT r, CASE WHEN r = 3 THEN 7 ELSE r * 2 END AS d "
                   "FROM region", os.path.join(out_dir, "outputs", "p1", "q_x"))
        ops = [{"name": "q_x", "pass": p, "ok": True} for p in (0, 1)]
        assert run.check_queries({"oracle": {"q_x": sql}, "ops": ops},
                                 in_dir, out_dir) == {1}
        # an empty oracle result makes every execution fail: no vacuous pass
        empty = "SELECT r, r * 2 AS d FROM region WHERE r < 0"
        assert run.check_queries({"oracle": {"q_x": empty}, "ops": ops},
                                 in_dir, out_dir) == {0, 1}


def test_product_check():
    with scratch() as d:
        gen.make_logs(7, d, 1, 2)
        ref = gen.reference(d)
        con = ref["con"]
        state, topk = os.path.join(d, "state"), os.path.join(d, "topk")
        write(con, "SELECT prefix, query, frequency FROM ref_state", state)
        write(con, "SELECT prefix, completions FROM ref_topk", topk)
        assert gen.compare_final(ref, state, topk) is True

        bumped = os.path.join(d, "state_bad")
        write(con, """SELECT prefix, query, frequency + CASE WHEN row_number()
                        OVER (ORDER BY prefix, query) = 5 THEN 1 ELSE 0 END
                        AS frequency FROM ref_state""", bumped)
        assert gen.compare_final(ref, bumped, topk) is not True

        swapped = os.path.join(d, "topk_bad")
        write(con, """SELECT prefix, CASE WHEN prefix = (SELECT min(prefix)
                        FROM ref_topk) THEN '["x"]' ELSE completions END
                        AS completions FROM ref_topk""", swapped)
        assert gen.compare_final(ref, state, swapped) is not True


if __name__ == "__main__":
    test_query_check()
    test_product_check()
    print("selftest: ok")
