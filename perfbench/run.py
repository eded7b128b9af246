#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine's
sources with the harness (sbt, into perfbench/target); later runs start
the harness with plain java. Each run works in its own directory under
perfbench/work/ with its own java.io.tmpdir and Spark local dirs, which it
deletes at the end. The last stdout line is the JSON result; everything
else goes to stderr. See perfbench/README.md for what each workload and
metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.built")
DEADLINE_S = 170  # the whole run, build excluded

WORKLOADS = ["autocomplete_cron", "query_mix"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "op_p50_s": "s",
    "op_geomean_s": "s", "input_rows_per_s": "1/s", "rss_peak_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "main.run_once_s": "s",
    "io.busy_s": "s", "io.jobs": "count",
    "ops.busy_s": "s", "ops.jobs": "count",
    "llm.busy_s": "s", "llm.jobs": "count",
    "queries.busy_s": "s", "queries.jobs": "count",
    "streaming.busy_s": "s", "streaming.jobs": "count",
    "state.rows": "count", "state.bytes": "B", "state.files": "count",
    "topk.bytes": "B", "topk.files": "count",
    "state.stored_bytes_per_input_byte": "ratio",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.index.build_s": "s",
    "engine.jobs": "count", "engine.checkpoint_jobs": "count",
    "engine.unattributed_jobs": "count",
    "engine.stages": "count", "engine.tasks": "count",
    "engine.job_busy_s": "s", "engine.driver_gap_s": "s",
    "engine.catalyst_s": "s", "engine.core_util": "ratio",
    "engine.task_cpu_s": "s", "engine.task_gc_s": "s",
    "engine.task_deser_s": "s", "engine.input_bytes": "B",
    "engine.output_bytes": "B", "engine.shuffle_write_bytes": "B",
    "engine.shuffle_read_bytes": "B", "engine.spill_bytes": "B",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B", "streaming.input_rows": "count",
    "jvm.driver_gc_s": "s", "jvm.heap_peak_mb": "MB", "trace.wall_s": "s",
}

# The oracle runs after the JVM has exited; its memory stays bounded on a
# shared machine.
DUCKDB_CONFIG = {"memory_limit": "2GB", "threads": os.cpu_count() or 1}


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def newest_mtime(*dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def build():
    """Compile engine + harness unless the stamp is newer than every source."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_mtime(
            ENGINE_SRC, HARNESS_SRC):
        return
    if not shutil.which("sbt"):
        sys.exit("perfbench: sbt not found")
    log("building engine + harness (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home(),
               COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=880)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write("built\n")


def java_cmd(run_dir):
    add_opens = [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in add_opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # no hsperfdata file under the system temp dir: a run writes only
        # inside its own directory
        "-XX:-UsePerfData",
        # the engine's own run configuration (build.sbt): 8g, ParallelGC
        "-Xmx8g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "graft.perfbench.Harness"]
    return cmd


def run_jvm(args, run_dir, in_dir, out_dir, cores, budget_s):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               GRAFT_NO_SHM_SCRATCH="1")
    cmd = java_cmd(run_dir) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--in", in_dir, "--out", out_dir, "--cores", str(cores),
        "--launched", repr(time.time())]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        log(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
        return None
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


# -- correctness ------------------------------------------------------------

def canon(df):
    """Rows as sorted strings over name-sorted columns (scripts/oracle_check.py)."""
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False):
        rows.append("\x01".join(f"{v:.10g}" if isinstance(v, float) else str(v)
                                for v in tup))
    rows.sort()
    return cols, hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def corrupt(df):
    """The same frame with one value of one row changed."""
    bad = df.copy()
    col = sorted(bad.columns)[0]
    bad[col] = bad[col].astype(object)
    v = bad.at[bad.index[0], col]
    bad.at[bad.index[0], col] = (
        v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool)
        else f"{v}~")
    return bad


def check_queries(res, in_dir, out_dir):
    """Indices of query ops whose output is wrong. Every timed execution
    is checked against the oracle. A query's check also fails when the
    oracle result is empty (a vacuous pass) or when a copy of the output
    with one corrupted row would still pass (a blind check)."""
    con = duckdb.connect(config=DUCKDB_CONFIG)
    for t in gen.TABLES:
        path = os.path.join(in_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = set()
    for q, sql in sorted(res["oracle"].items()):
        runs = [(i, op) for i, op in enumerate(res["ops"])
                if op["name"] == q and op["ok"]]
        try:
            want = canon(con.sql(sql).df())
        except duckdb.Error as e:
            log(f"check {q}: oracle failed: {str(e)[:200]}")
            bad |= {i for i, _ in runs}
            continue
        blind = want[2] == 0
        wrong = 0
        for n, (i, op) in enumerate(runs):
            path = os.path.join(out_dir, "outputs", f"p{op['pass']}", q)
            try:
                got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            except duckdb.Error:  # an unreadable output is a wrong output
                got = None
            if got is None or canon(got) != want:
                bad.add(i)
                wrong += 1
            elif n == 0 and canon(corrupt(got)) == want:
                blind = True
        if blind:
            bad |= {i for i, _ in runs}
        log(f"check {q}: {len(runs) - wrong}/{len(runs)} outputs match the "
            f"oracle ({want[2]} rows)" +
            (", so the check itself is void: every run fails" if blind else ""))
    return bad


def check_product(res, ref):
    """Autocomplete ticks against the reference: per tick (stateRows,
    topKRows), then the last pass's full state and top-K tables."""
    bad_ops = set()
    for i, op in enumerate(res["ops"]):
        if not op["ok"]:
            continue
        h = int(op["name"][len("tick"):])
        if op["result"] != list(ref["counts"][h]):
            bad_ops.add(i)
            log(f"{op['name']} pass {op['pass']}: got {op['result']}, "
                f"want {list(ref['counts'][h])}")
    final = gen.compare_final(ref, res["final_state"], res["final_topk"])
    if final is not True:
        log(f"final state/top-K: {final}")
        last = max(op["pass"] for op in res["ops"])
        bad_ops |= {i for i, op in enumerate(res["ops"]) if op["pass"] == last}
    return bad_ops


# -- metrics ----------------------------------------------------------------

def end_to_end(res, gen_s, input_rows):
    passes = res["passes"]  # pass 0 is cold; the harness runs warm ones too
    warm = [p["s"] for p in passes[1:]]
    warm_ops = [op for op in res["ops"] if op["pass"] > 0 and op["ok"]]
    by_name = {}
    for op in warm_ops:
        by_name.setdefault(op["name"], []).append(op["s"])
    per_op = [statistics.median(v) for v in by_name.values()]
    wall = statistics.median(warm)
    return {
        "setup_s": gen_s + res["setup"]["session_s"] + res["setup"]["staging_s"],
        "cold_s": passes[0]["s"],
        "wall_s": wall,
        "op_p50_s": statistics.median(op["s"] for op in warm_ops),
        "op_geomean_s": math.exp(sum(math.log(max(v, 1e-9)) for v in per_op)
                                 / len(per_op)),
        "input_rows_per_s": input_rows / wall,
        "rss_peak_mb": res["rss_peak_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    t_built = time.monotonic()
    cores = os.cpu_count() or 1
    run_dir = os.path.join(HERE, "work",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        # set-up, part 1: input generation (part 2, session start from
        # JVM launch and staging, the harness times itself)
        t0 = time.perf_counter()
        input_rows = gen.make_inputs(args.workload, args.seed, in_dir)
        gen_s = time.perf_counter() - t0
        log("inputs ready")
        budget = DEADLINE_S - (time.monotonic() - t_built)
        res = run_jvm(args, run_dir, in_dir, out_dir, cores, budget)
        if res is None:
            sys.exit(1)

        log("harness done")
        for p in res["passes"]:
            log(f"pass {p['pass']}: " + ", ".join(
                f"{op['name']} {op['s']:.2f}s" for op in res["ops"]
                if op["pass"] == p["pass"]))
        bad = {i for i, op in enumerate(res["ops"]) if not op["ok"]}
        for i in sorted(bad):
            op = res["ops"][i]
            log(f"op failed: {op['name']} pass {op['pass']}: {op['err']}")
        if args.workload == "autocomplete_cron":
            bad |= check_product(res, gen.reference(in_dir))
        if res["oracle"]:
            bad |= check_queries(res, in_dir, out_dir)

        log("checks done")
        metrics = (end_to_end(res, gen_s, input_rows) if args.trace == 0
                   else dict(res["layers"],
                             **{"session.start_s": res["setup"]["session_s"]}))
        metrics = {k: metrics[k] for k in
                   (END_TO_END if args.trace == 0 else PER_LAYER)}
        units = END_TO_END if args.trace == 0 else PER_LAYER
        attempted = len(res["ops"])
        print(json.dumps({
            "correct": not bad,
            "attempted": attempted,
            "failed": len(bad),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
