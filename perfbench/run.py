#!/usr/bin/env python3
"""Benchmark of the graft engine; BENCHMARK.json names its workloads and
metrics, perfbench/DESIGN.md records why.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the JVM harness from source into .bench_build/
(once per source state), makes the workload's inputs from the seed, runs
the harness (perfbench/harness), checks every query's result against the
DuckDB oracle SQL the program declares, and prints one line per metric,
then the result as one JSON object on the last line. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
full run record (per-pass times in execution order, per-query errors and
mismatches, contention stamp) is written to .bench_build/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
THREADS = min(4, len(os.sched_getaffinity(0)))
JVM_TIMEOUT_S = 160
CORPUS_LINES = 1_000_000
VOCAB = 7400

# One sub-second query per tier of SparkEntry (14 tiers), picked by
# md5(name) among the tier's queries that run under 1 s both cold at sf0.01
# and in the sf0.1 suite; the Graph tier has none under 1 s at sf0.1, so
# its fastest query stands in.
TAIL = [
    "q_seasonality", "q_asof_join", "q_group_sample", "q_dedup_embedding",
    "q_locf", "q_textrank", "q_csv_ingest", "q_media_metadata",
    "q5_local_supplier", "q_embed_quantize", "q_lateral_topn",
    "q_stream_join_outer", "q_fingerprint", "wordcount_topk",
]

WORKLOADS = {
    "wordcount": {"queries": ["wordcount", "wordcount_distinct"], "corpus": True,
                  "pass_s": 2.0},
    "tail_panel": {"queries": TAIL, "pass_s": 8.5},
    "heavy_panel": {"queries": ["q_triangles", "q_kcore"], "pass_s": 8.0},
}

def passes(w, seconds, trace):
    """Whole passes in the measured window: as many as fill `seconds` at
    the workload's nominal pass time on a 4-core machine. A fixed count,
    not a deadline, so every run of a workload does the same work and a
    pass that ends just before or after the deadline cannot change the
    median. A traced run alternates traced and untraced passes and needs
    at least one of each."""
    n = max(1, round(seconds / w["pass_s"]))
    return max(n, 2) if trace else n


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first `jars`
    beside a spark-submit on PATH that holds Spark SQL."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("Spark's jars not found: set SPARK_HOME")


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sh")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state (the stamp holds the sources' digest),
    then make the class-data-sharing archive from one short training run
    of the harness, so each run's JVM starts without re-verifying Spark's
    classes."""
    jar = os.path.join(BUILD, "graft-bench.jar")
    jsa = os.path.join(BUILD, "graft-bench.jsa")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, jsa
    for f in (stamp, jsa):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), jar, spark_jars()],
                             stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc})")
    run_dir = fresh_run_dir()
    run_jvm(jar, [f"-XX:ArchiveClassesAtExit={jsa}"], harness_args(
        run_dir, 0, 0, ["q_kcore"] + TAIL, FIXTURE),
        os.path.join(BUILD, "cds.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar, jsa


def vocab_word(i):
    """Letter-only word #i: base 26 over a..z, padded to 3 letters."""
    s = []
    while True:
        s.append(chr(97 + i % 26))
        i //= 26
        if i == 0:
            break
    return "".join(s).ljust(3, "x")


def corpus(seed):
    """documents.parquet of CORPUS_LINES seed-generated lines: 9..16 words
    each from a 7,400-word vocabulary, first word capitalised, a period at
    the end. Only the current seed's corpus is kept."""
    root = os.path.join(BUILD, "data")
    out = os.path.join(root, f"corpus-{seed}-{CORPUS_LINES}")
    if os.path.exists(os.path.join(out, "documents.parquet")):
        return out
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(out)
    con = duckdb_con()
    con.execute("CREATE TABLE vl AS SELECT $v AS v", {"v": [vocab_word(i) for i in range(VOCAB)]})
    pick = f"v[1 + (hash(i, j, {seed}) % {VOCAB})::BIGINT]"
    tmp = os.path.join(out, "documents.parquet.tmp")
    con.execute(f"""
        COPY (SELECT i AS doc_id,
                     array_to_string(list_transform(range(9 + (hash(i, {seed}) % 8)::BIGINT),
                       j -> CASE WHEN j = 0 THEN upper({pick}[1]) || {pick}[2:]
                                 ELSE {pick} END), ' ') || '.' AS text
              FROM range({CORPUS_LINES}) t(i), vl)
        TO '{tmp}' (FORMAT parquet, ROW_GROUP_SIZE 65536)""")
    os.rename(tmp, os.path.join(out, "documents.parquet"))
    return out


def record_text_mb(data):
    p = os.path.join(data, "documents.parquet")
    return duckdb_con().execute(f"SELECT sum(strlen(text)) FROM '{p}'").fetchone()[0] / 1e6


def duckdb_con():
    """A DuckDB connection whose spill files, if any, stay in .bench_build."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={THREADS}")
    con.execute(f"SET temp_directory='{os.path.join(BUILD, 'duckdb')}'")
    return con


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def fresh_run_dir():
    """The run's scratch directory; the JVM's java.io.tmpdir, Spark's
    local dir and every file the queries write live under it."""
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    return run_dir


def harness_args(run_dir, n_passes, trace, queries, data):
    return [f"out={run_dir}", f"threads={THREADS}", f"passes={n_passes}",
            f"trace={trace}", f"queries={','.join(queries)}", f"data={data}",
            f"warm={FIXTURE}"]


def run_jvm(jar, flags, args, log):
    jars = spark_jars()
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "run", "tmp")
    cmd = (["java"] + opens + flags + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{jar}:{jars}/*", "perfbench.Harness",
        f"spawn_ns={time.time_ns()}"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"harness failed ({rc})")


def oracle_result(con, sql, data_dir):
    """The oracle's answer; answers over the committed fixture depend only
    on the SQL, so they are kept in .bench_build/oracle between runs."""
    if data_dir != FIXTURE:
        return con.execute(sql).df()
    import pandas as pd
    path = os.path.join(BUILD, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path)
    return df


def oracle_check(record, run_dir, data_dir):
    """{query: problem} for every checked query whose result differs from
    its oracle (canonicalised as tools/check_oracle.py does) or failed."""
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, frame_sig
    problems = {}
    con = duckdb_con()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for q in record["check"]:
        name = q["name"]
        if "error" in q:
            problems[name] = q["error"]
            continue
        sql = record["oracle_sql"].get(name)
        files = sorted(glob.glob(os.path.join(run_dir, "check", name, "*.parquet")))
        spark = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        if sql is None:
            if spark is None or len(spark) == 0:
                problems[name] = "no oracle SQL and no rows"
            continue
        duck = oracle_result(con, sql, data_dir)
        if spark is None:
            problems[name] = "no result file"
        elif sorted(duck.columns) != sorted(spark.columns):
            problems[name] = f"columns {sorted(spark.columns)} != oracle {sorted(duck.columns)}"
        elif len(duck) != len(spark):
            problems[name] = f"{len(spark)} rows != oracle {len(duck)}"
        elif frame_sig(duck, False) != frame_sig(spark, False):
            same_set = frame_sig(duck, True) == frame_sig(spark, True)
            problems[name] = "row order differs" if same_set else "values differ"
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail(f"no program sources under {ROOT}; run from the repository root")
    if not os.path.exists(os.path.join(ROOT, "tools/check_oracle.py")):
        fail("tools/check_oracle.py (the oracle canonicalisation) is missing")
    os.makedirs(BUILD, exist_ok=True)
    w = WORKLOADS[a.workload]
    jar, jsa = build()
    t_start = time.time()
    data = corpus(a.seed) if w.get("corpus") else FIXTURE
    t_inputs = time.time()
    order = benchlib.run_order(w["queries"], a.seed)

    run_dir = fresh_run_dir()
    load0, t0 = loadavg(), time.time()
    run_jvm(jar, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [],
            harness_args(run_dir, passes(w, a.seconds, a.trace), a.trace, order, data),
            os.path.join(BUILD, "harness.log"))
    load1 = loadavg()
    with open(os.path.join(run_dir, "record.json")) as fh:
        record = json.load(fh)
    spans = []
    if a.trace:
        with open(os.path.join(run_dir, "spans.json")) as fh:
            spans = json.load(fh)
    t_check = time.time()
    problems = oracle_check(record, run_dir, data)
    t_oracle = time.time() - t_check
    shutil.rmtree(run_dir, ignore_errors=True)

    # Contention stamp: busy CPU of the whole machine during the window,
    # less our JVM's own, is what others took from the cores; `contended`
    # means a counted pass was contended after the harness's retries.
    win = record["window"]
    stamp = {
        "loadavg_before": load0, "loadavg_after": load1,
        "cpu_wall_ratio": win["cpu_s"] / win["wall_s"],
        "other_cores": (win["machine_busy_s"] - win["cpu_s"]) / win["wall_s"],
        "retried_passes": sum(1 for p in record["passes"] if p["retried"]),
        "contended": any(p["contended"] for p in benchlib.counted(record)),
    }
    timings = {"inputs_s": t_inputs - t_start, "jvm_s": t_check - t0, "oracle_s": t_oracle}

    window_errors = {q["name"]: q["error"] for p in record["passes"]
                     for q in p["queries"] if "error" in q}
    attempted = (len(record["setup_s"]) + len(record["check"])
                 + sum(len(p["queries"]) for p in record["passes"]))
    failed = (len(record["warm_errors"]) + len(problems)
              + sum(1 for p in record["passes"] for q in p["queries"] if "error" in q))
    units = {m["name"]: m["unit"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if a.trace else "end_to_end"]}
    values = benchlib.per_layer(record, spans) if a.trace else benchlib.end_to_end(record)
    execs = [q["seconds"] for p in benchlib.counted(record) for q in p["queries"]]
    extra = {
        "samples": len(execs),
        "query_tail_s": {str(k): v for k, v in benchlib.tail_percentiles(execs).items()},
        "failed_frac": failed / attempted,
        "peak_rss_mb": record["peak_rss_mb"],
    }
    if w.get("corpus"):
        text_mb = record_text_mb(data)
        wc = [q["seconds"] for p in benchlib.counted(record) for q in p["queries"]
              if q["name"] == "wordcount"]
        extra["text_mb"] = text_mb
        extra["mb_per_s"] = text_mb / benchlib.median(wc)
    if a.trace:
        extra["phase_coverage"] = benchlib.phase_coverage(spans)
        # self time by span name, summed over the traced passes
        own = benchlib.self_times(spans)
        self_s = {}
        for s in spans:
            name = "query" if s["name"].startswith("query:") else s["name"]
            self_s[name] = self_s.get(name, 0) + own[s["id"]] / 1e9
        extra["self_s"] = self_s

    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "order": order,
                   "load": stamp, "timings": timings, "mismatches": problems, "window_errors": window_errors,
                   "metrics": values, "extra": extra, "record": record,
                   "spans": spans}, fh)
    for name in units:
        print(f"{a.workload} {name} = {values[name]:.6g} {units[name]}")
    print(f"{a.workload} extra {json.dumps(extra)}")
    print(f"{a.workload} load {json.dumps(stamp)} timings {json.dumps(timings)}")
    for name, why in sorted({**problems, **window_errors}.items()) + [
            ("warm-up", e) for e in record["warm_errors"]]:
        print(f"{a.workload} FAILED {name}: {why}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
