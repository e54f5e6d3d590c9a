#!/usr/bin/env python3
"""Benchmark of the Hive DDL extractor and the Spark query engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the program and the runner in ``perfbench/`` with sbt
(cached in ``.bench_build/`` by a hash of the sources), generates the
workload's inputs from the seed, starts one JVM running
``perfbench.Main`` (one client thread, closed loop, Spark on
``local[<cores>]``), checks the outputs and prints one line per metric,
then the result as one JSON object on the last line. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, zero for layers the workload does not reach.

Workloads (see WORKLOADS) and what each operation is:
  catalog_extract  one ``DdlExtract.extractToFile`` over a seeded
                   synthetic metastore (embedded Derby); the traced run
                   also replays the extracted script with ``ScriptReplay``
  query_graph      one pass over iterative, stage-heavy graph queries
  query_text       one pass over tokenizer- and pin-heavy text queries
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# a run must end within this many seconds (first-run build excluded)
RUN_BUDGET_S = 170

# The query lists and input sizes are what fits a run of under a minute on
# four cores: each pass is a few seconds, after an untimed first pass of
# 10-15 s that also writes the results for the oracle check and a second
# untimed pass. The JIT is still compiling through the first timed passes;
# the median of the at least three timed passes reads the middle one.
WORKLOADS = {
    "catalog_extract": {"kind": "catalog", "size": "bench"},
    "query_graph": {"kind": "query", "scale": 1.0, "documents": 500,
                    "queries": ["q82_pagerank_supply", "q140_personalized_pagerank",
                                "q211_label_propagation"]},
    "query_text": {"kind": "query", "scale": 1.0, "documents": 500,
                   "queries": ["q90_bm25_search", "q120_bpe_encode"]},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("heap_peak_mb", "MB")]

REPLAY_KINDS = ["create_db", "create_table", "add_partition", "msck"]


def per_layer_metrics(workloads):
    """(name, unit, better) of every per-layer metric, in print order."""
    m = [("catalog.extract_s", "s", "lower"), ("catalog.list_s", "s", "lower"),
         ("catalog.ddl_s", "s", "lower"), ("catalog.ddl_p50_ms", "ms", "lower"),
         ("catalog.ddl_p99_ms", "ms", "lower"), ("catalog.restore_s", "s", "lower"),
         ("catalog.restore_p50_ms", "ms", "lower"), ("catalog.restore_p99_ms", "ms", "lower"),
         ("catalog.write_s", "s", "lower"), ("catalog.hive_calls", "count", "lower"),
         ("catalog.partitions_fetched", "count", "lower"),
         ("catalog.fanout_gain", "ratio", "higher"), ("catalog.script_bytes", "bytes", "lower"),
         ("catalog.add_lines", "count", "lower"), ("catalog.msck_lines", "count", "lower"),
         ("catalog.table_errors", "count", "lower"),
         ("catalog.replay.parse_s", "s", "lower"), ("catalog.replay.statements", "count", "lower")]
    for k in REPLAY_KINDS:
        m += [(f"catalog.replay.{k}_s", "s", "lower"), (f"catalog.replay.{k}_p50_ms", "ms", "lower"),
              (f"catalog.replay.{k}_p99_ms", "ms", "lower"),
              (f"catalog.replay.{k}_hive_calls", "count", "lower")]
    queries = [q for w in workloads.values() for q in w.get("queries", [])]
    for q in queries:
        m += [(f"queries.{q}.s", "s", "lower"), (f"queries.{q}.fn_s", "s", "lower"),
              (f"queries.{q}.exec_s", "s", "lower")]
    m += [("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
          ("exec.tasks", "count", "lower"), ("exec.task_run_s", "s", "lower"),
          ("exec.busy_frac", "fraction", "higher"), ("exec.shuffle_read_mb", "MB", "lower"),
          ("exec.shuffle_write_mb", "MB", "lower"), ("exec.spill_mb", "MB", "lower"),
          ("exec.gc_s", "s", "lower"), ("exec.cached_after", "count", "lower")]
    for q in queries:
        m += [(f"exec.{q}.stages", "count", "lower"), (f"exec.{q}.tasks", "count", "lower"),
              (f"exec.{q}.cached_after", "count", "lower")]
    m += [("trace.wall_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
          ("host.load1", "load", "lower"), ("host.other_cpu_s", "s", "lower"),
          ("host.calib_ms", "ms", "lower"),
          ("error_rate", "fraction", "lower")]
    return m


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pat in ("project/*.properties", "project/*.sbt", "src/main/**/*.scala",
                "src/main/**/*.java", "perfbench/project/*.properties", "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the runner; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=800)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def make_inputs(name, seed, work, smoke):
    """Writes the workload's inputs; returns (input path, median seconds of
    three generations)."""
    import gen
    w = WORKLOADS[name]
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        if w["kind"] == "catalog":
            path = os.path.join(work, "spec.json")
            gen.write_catalog_spec(path, seed, "smoke" if smoke else w["size"])
        else:
            path = os.path.join(work, "tables")
            gen.write_tables(path, w["scale"], w["documents"])
        times.append(time.perf_counter() - t0)
    return path, statistics.median(times)


# ---------------------------------------------------------------- oracle

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return repr(tuple(round(c, 6) if isinstance(c, float) else c for c in row))


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_problems(work, tables):
    """Compares each query's result (written by the warm-up pass) with
    its DuckDB oracle over the same parquet tables, as bags of rows with
    columns matched by name and a 1e-6 relative float tolerance."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    for f in glob.glob(os.path.join(tables, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    problems = []
    for name, sql in sorted(json.load(open(os.path.join(work, "oracle_sql.json"))).items()):
        out = os.path.join(work, "out", name)
        if not os.path.isdir(out):
            continue  # the query itself failed; already counted
        try:
            got, want = con.sql(f"SELECT * FROM '{out}/*.parquet'"), con.sql(sql)
            gcols, wcols = sorted(got.columns, key=str.lower), sorted(want.columns, key=str.lower)
            if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
                problems.append(f"{name}: columns {gcols} vs oracle {wcols}")
                continue
            rows = [sorted((tuple(_norm(c) for c in r) for r in rel.select(
                ", ".join(f'"{c}"' for c in cols)).fetchall()), key=_sort_key)
                for rel, cols in ((got, gcols), (want, wcols))]
            if len(rows[0]) != len(rows[1]):
                problems.append(f"{name}: {len(rows[0])} rows vs oracle {len(rows[1])}")
            elif not all(_same(g, w) for g, w in zip(*rows)):
                i = next(i for i, (g, w) in enumerate(zip(*rows)) if not _same(g, w))
                problems.append(f"{name}: row {i} {rows[0][i]!r} vs oracle {rows[1][i]!r}")
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{name}: {e}")
    con.close()
    return problems


# ---------------------------------------------------------------- run

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, name, seed, seconds, trace, inputs, work, deadline):
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the heap the program's own build gives Spark (build.sbt), with a
        # young generation that holds everything one pass allocates: no
        # collection runs inside a timed pass, so heap_peak_mb follows the
        # program's allocation instead of G1's adaptive eden sizing (the
        # run prints the collections it saw inside its passes)
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-Xmn4g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "perfbench.Main", "--workload", name, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--input", inputs,
        "--queries", ",".join(WORKLOADS[name].get("queries", [])),
        "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{name}: runner exceeded the run budget; see {work}/jvm.log")
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"{name}: runner exited {code}; see {work}/jvm.log")
    res = json.load(open(os.path.join(work, "result.json")))
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="a small metastore instead of the workload's (self-check)")
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, gen_s = make_inputs(a.workload, a.seed, work, a.smoke)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, inputs, work, deadline - 15)
    problems = list(res["problems"])
    failed, attempted = res["failed"], res["attempted"]
    if WORKLOADS[a.workload]["kind"] == "query":
        bad = oracle_problems(work, inputs)
        failed += len(bad)
        problems += bad

    timed = [p for p in res["passes"] if not p["traced"]]
    setup = res["setup"]
    values = {
        "setup_s": gen_s + sum(setup.values()),
        "wall_s": statistics.median(p["wall_s"] for p in timed),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "heap_peak_mb": statistics.median(p["heap_mb"] for p in timed),
    }
    other = sum(p["other_cpu_s"] for p in res["passes"])
    collections = sum(p["collections"] for p in res["passes"])
    load1 = statistics.median(p["load1"] for p in res["passes"])
    print(f"{a.workload} seed={a.seed} trace={a.trace}: {len(timed)} untraced timed passes, "
          f"{attempted} operations, {failed} failed")
    print("setup parts: " + ", ".join(f"{k} {v:.3f}" for k, v in
                                      [("inputs_s", gen_s)] + list(setup.items())))
    calib = statistics.median(res["calibration_ms"])
    print(f"host: load1 {load1:.2f}, other processes' cpu {other:.3f} s "
          f"during {sum(p['wall_s'] for p in res['passes']):.3f} s timed, "
          f"calibration loop {calib:.1f} ms")
    print(f"heap: {collections} garbage collections inside the timed passes")
    for p in problems[:10]:
        print(f"FAILED CHECK: {p}")

    if a.trace == 0:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        samples = {"setup_s": 1, "wall_s": len(timed), "cpu_s": len(timed), "heap_peak_mb": len(timed)}
        for n, u in END_TO_END:
            print(f"{n} = {values[n]:.4f} {u} (median of {samples[n]})")
    else:
        traced = [p for p in res["passes"] if p["traced"]]
        layers = dict(res["layers"])
        layers["trace.wall_s"] = statistics.median(p["wall_s"] for p in traced)
        layers["trace.overhead_s"] = layers["trace.wall_s"] - values["wall_s"]
        layers["host.load1"] = load1
        layers["host.other_cpu_s"] = other
        layers["host.calib_ms"] = calib
        layers["error_rate"] = failed / attempted if attempted else 1.0
        for span, secs in sorted(res["self_s"].items(), key=lambda kv: -kv[1])[:30]:
            print(f"self time of span {span}: {secs:.4f} s")
        metrics = {}
        for n, u, _ in per_layer_metrics(WORKLOADS):
            metrics[n] = {"value": float(layers.get(n, 0.0)), "unit": u}
            print(f"{n} = {metrics[n]['value']:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
