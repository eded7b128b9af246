"""Seeded inputs of the graft benchmark and the product path's reference.

Every input is a pure function of the seed:

- hourly query-log files (FIXTURES.md section A1 shape) for
  autocomplete_cron: Zipf-popular queries, a share of brand-new queries
  each hour, and the edge cases the pipeline must filter or normalize.
  The first HISTORY_HOURS files are the past the CronJob has already
  merged: they are folded into a seed state and top-K (parquet, the
  engine's schema) that every timed pass starts from. The last HOURS
  files are the ticks a pass times;
- a keyed row sample of the bundled sf0.01 tables for query_mix. A row
  is kept by a hash of the seed and the key it joins on, so orders and
  their lineitems are kept or dropped together; dimension tables are
  kept whole.

The traffic settings below are chosen to fit a run of about a minute,
not measured from a real query log: the only traffic sample in the
repository is the reference's 50-query hour (FIXTURES.md section A1).

The seed state and the reference state and top-K are computed here in
DuckDB, independently of the engine, from the log files as written.
"""
import bisect
import datetime
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
# the tables query_mix's queries and index read
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem",
          "documents"]
# table -> the key its rows are sampled by; absent tables are kept whole
SAMPLE_KEY = {"orders": "o_orderkey", "lineitem": "l_orderkey",
              "documents": "doc_id"}
KEEP_PER_MILLE = 800

HISTORY_HOURS = 24      # hours already merged into the seed state
HOURS = 2               # timed ticks per pass, one log file each
LINES_PER_HOUR = 8000
UNIVERSE = 12000        # recurring queries, Zipf-ranked
ZIPF_S = 1.05
NEW_SHARE = 0.05        # of each hour's lines: queries first seen that hour
TOP_K = 10
MAX_PREFIX = 60


def _mix(x):
    """splitmix64 finalizer over a uint64 array."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def sample_tables(seed, dest, tables):
    os.makedirs(dest, exist_ok=True)
    salt = _mix(np.array([seed], dtype=np.uint64))[0]
    rows = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
        key = SAMPLE_KEY.get(t)
        if key:
            keys = tbl.column(key).to_numpy().astype(np.int64).view(np.uint64)
            keep = (_mix(keys ^ salt) % np.uint64(1000)) < KEEP_PER_MILLE
            tbl = tbl.filter(pa.array(keep))
        pq.write_table(tbl, os.path.join(dest, f"{t}.parquet"))
        rows[t] = tbl.num_rows
    return rows


def _word(rng):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "qua",
           "bre", "st", "an", "el", "or", "ix", "um", "dr", "gh"]
    return "".join(rng.choice(syl) for _ in range(rng.randint(1, 4)))


def make_logs(seed, dest, history, hours):
    """`history` hourly files under dest/history, then `hours` under
    dest/logs, named YYYY-MM-DD-HH.txt; returns the lines under dest/logs."""
    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(3000)})
    universe, seen = [], set()
    while len(universe) < UNIVERSE:
        q = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
        if q not in seen:
            seen.add(q)
            universe.append(q)
    cum, acc = [], 0.0
    for r in range(UNIVERSE):
        acc += 1.0 / (r + 1) ** ZIPF_S
        cum.append(acc)
    start = datetime.datetime(2025, 6, 10) - datetime.timedelta(hours=history)
    ticked = 0
    for h in range(history + hours):
        n_new = int(LINES_PER_HOUR * NEW_SHARE)
        lines = [universe[bisect.bisect_left(cum, rng.random() * acc)]
                 for _ in range(LINES_PER_HOUR - n_new)]
        # brand-new queries, each seen one to three times this hour
        while n_new > 0:
            q = f"{rng.choice(vocab)} {rng.choice(vocab)} h{h} {rng.randint(0, 10**6)}"
            reps = min(n_new, rng.randint(1, 3))
            lines += [q] * reps
            n_new -= reps
        # mixed case and padded spellings of recurring queries
        for i in rng.sample(range(len(lines)), len(lines) // 50):
            lines[i] = "".join(c.upper() if rng.random() < 0.5 else c
                               for c in lines[i])
        for i in rng.sample(range(len(lines)), len(lines) // 100):
            lines[i] = "  " + lines[i] + "   "
        # edge cases: empty, whitespace-only, one char, over 60 chars
        lines += ["", "   ", "x", " y ", "Z"] * 3
        lines += [" ".join(rng.choice(vocab) for _ in range(20))
                  for _ in range(10)]
        rng.shuffle(lines)
        sub = os.path.join(dest, "history" if h < history else "logs")
        os.makedirs(sub, exist_ok=True)
        name = (start + datetime.timedelta(hours=h)).strftime("%Y-%m-%d-%H.txt")
        with open(os.path.join(sub, name), "w", encoding="utf-8",
                  newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        if h >= history:
            ticked += len(lines)
    return ticked


def make_inputs(workload, seed, dest):
    """Write one copy of `workload`'s inputs under `dest`; returns the
    number of input rows one pass of the workload reads. For
    autocomplete_cron this includes the seed state under dest/seed."""
    if workload == "autocomplete_cron":
        lines = make_logs(seed, dest, HISTORY_HOURS, HOURS)
        con = _load_logs(dest, ["history"])
        con.execute(f"CREATE TABLE seed AS {_state_sql(-1)}")
        for name, sql in [("state", "SELECT * FROM seed"),
                          ("topk", _topk_sql("seed"))]:
            out = os.path.join(dest, "seed", name)
            os.makedirs(out)
            con.execute(f"""COPY (SELECT *, TIMESTAMPTZ '2025-06-10 00:00:00+00'
                                 AS last_updated FROM ({sql}))
                            TO '{out}/part-00000.parquet' (FORMAT parquet)""")
        con.close()
        return lines
    return sum(sample_tables(seed, dest, TABLES).values())


def _load_logs(dest, subdirs):
    """A DuckDB holding qf(q, tick, c): normalized query counts per tick
    over the files under dest/<subdir>. Files under "history" are tick
    -1; the files under "logs" are ticks 0, 1, .. in name order."""
    ticks, texts = [], []
    for sub in subdirs:
        d = os.path.join(dest, sub)
        files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
        for i, f in enumerate(files):
            with open(os.path.join(d, f), encoding="utf-8", newline="\n") as fh:
                lines = fh.read().split("\n")
            if lines and lines[-1] == "":
                lines.pop()
            ticks += [-1 if sub == "history" else i] * len(lines)
            texts += lines
    con = duckdb.connect(config={"memory_limit": "2GB",
                                 "threads": os.cpu_count() or 1})
    con.register("raw", pa.table({"tick": ticks, "line": texts}))
    con.execute("""
        CREATE TABLE qf AS
        SELECT q, tick, count(*) AS c
        FROM (SELECT tick, lower(trim(line)) AS q FROM raw
              WHERE length(trim(line)) >= 2)
        GROUP BY q, tick""")
    con.unregister("raw")
    return con


def _state_sql(tick):
    """(prefix, query, frequency) after `tick`: prefixes of 2..60 chars of
    every query seen so far, with its total count."""
    return f"""
        SELECT substr(q, 1, n) AS prefix, q AS query, freq AS frequency
        FROM (SELECT q, sum(c)::BIGINT AS freq FROM qf WHERE tick <= {tick}
              GROUP BY q),
             LATERAL (SELECT unnest(generate_series(
                        2, least(length(q), {MAX_PREFIX}))) AS n)"""


def _topk_sql(state):
    """Top TOP_K queries per prefix by frequency, ties by query ascending,
    as a JSON array of strings."""
    return f"""
        SELECT prefix, '["' || string_agg(query, '","' ORDER BY rn) || '"]'
               AS completions
        FROM (SELECT prefix, query, row_number() OVER (
                PARTITION BY prefix ORDER BY frequency DESC, query) AS rn
              FROM {state})
        WHERE rn <= {TOP_K} GROUP BY prefix"""


def reference(dest):
    """Reference of the product path over dest/history and dest/logs: per
    tick (stateRows, topKRows) after that tick, and the final state and
    top-K tables, kept in an in-memory DuckDB."""
    con = _load_logs(dest, ["history", "logs"])
    hours = con.execute("SELECT max(tick) + 1 FROM qf").fetchone()[0]
    counts = []
    for t in range(hours):
        counts.append(con.execute(
            f"SELECT count(*), count(DISTINCT prefix) FROM ({_state_sql(t)})"
        ).fetchone())
    con.execute(f"CREATE TABLE ref_state AS {_state_sql(hours - 1)}")
    con.execute(f"CREATE TABLE ref_topk AS {_topk_sql('ref_state')}")
    return {"con": con, "counts": counts}


def compare_final(ref, state_dir, topk_dir):
    """True when the engine's final state and top-K equal the reference;
    otherwise a description. A copy of the state with one frequency
    bumped must be caught, or the comparison itself is reported broken."""
    con = ref["con"]
    try:
        con.execute(f"""CREATE OR REPLACE TEMP VIEW got_state AS
            SELECT prefix, query, frequency FROM '{state_dir}/*.parquet'""")
        con.execute(f"""CREATE OR REPLACE TEMP VIEW got_topk AS
            SELECT prefix, completions FROM '{topk_dir}/*.parquet'""")
    except duckdb.Error as e:
        return f"unreadable output: {e}"

    def state_diff(view):
        return con.execute(f"""
            SELECT count(*) FROM ref_state r FULL OUTER JOIN {view} g
              ON r.prefix = g.prefix AND r.query = g.query
            WHERE r.frequency IS DISTINCT FROM g.frequency""").fetchone()[0]

    n_state = con.execute("SELECT count(*) FROM got_state").fetchone()[0]
    diff = state_diff("got_state")
    topk_diff = con.execute("""
        SELECT count(*) FROM ref_topk r FULL OUTER JOIN got_topk g
          ON r.prefix = g.prefix
        WHERE r.completions IS DISTINCT FROM g.completions""").fetchone()[0]
    con.execute("""CREATE OR REPLACE TEMP VIEW bad_state AS
        SELECT prefix, query, frequency + CASE WHEN row_number() OVER (
                 ORDER BY prefix, query) = 1 THEN 1 ELSE 0 END AS frequency
        FROM got_state""")
    ref_rows = con.execute("SELECT count(*) FROM ref_state").fetchone()[0]
    if ref_rows == 0:
        return "empty reference state: the check would be vacuous"
    if state_diff("bad_state") == 0:
        return "a corrupted state row still matched"
    if diff or topk_diff or n_state != ref_rows:
        return (f"state rows {n_state}/{ref_rows}, {diff} state rows and "
                f"{topk_diff} top-K prefixes differ")
    return True
