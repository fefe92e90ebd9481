#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, timed end to end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--record runs.jsonl]

Builds the engine from source (perfbench/build.py), runs the workload's set-up
and its one timed operation in a fresh JVM with Spark in local mode on at most
four cores, checks every output, and
prints one JSON line last: `correct`, `attempted`, `failed` and `metrics` -
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. `--record` also appends the result, with workload,
seed, every measured figure and (traced) the spans, to a JSON-lines file that
compare.py reads. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the sf0.1 test corpus the curate_funnel input is derived from
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt sets the same)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def jvm(classes, main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: the JVM would otherwise write its perf file outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"), main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    env.pop("SPARK_GRAFT_INGEST_PARALLELISM", None)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        log.close()


def canon(columns, rows):
    """Columns sorted by name, rows sorted: the order-free form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    key = lambda r: tuple((v is None, str(type(v)), v) for v in r)
    return [columns[i] for i in order], sorted((tuple(r[i] for i in order) for r in rows), key=key)


def funnel_oracle_matches(work):
    """The funnel's output against the curate_corpus_v2 DuckDB oracle, run
    over the same generated input, after the timed loop."""
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(work, "duckdb_tmp")})
    with open(os.path.join(work, "funnel_in")) as f:
        in_dir = f.read().strip()
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{name}.parquet/*.parquet')")
    with open(os.path.join(work, "funnel_oracle.sql")) as f:
        want = con.execute(f.read())
    want = canon([d[0].lower() for d in want.description], want.fetchall())
    got = con.execute(f"SELECT * FROM read_parquet('{work}/funnel_out/*.parquet')")
    got = canon([d[0].lower() for d in got.description], got.fetchall())
    return results_equal(got, want)


def results_equal(got, want):
    return got[0] == want[0] and len(got[1]) == len(want[1]) and all(
        a == b for a, b in zip(got[1], want[1]))


def main(argv=None):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    # a run times exactly one operation, which takes longer than the
    # benchmark's run_seconds on 4 cores; the argument is accepted and unused
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record")
    a = ap.parse_args(argv)
    classes = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = jvm(classes, "perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                    "--work", work, "--data", DATA],
                   work, JVM_TIMEOUT_S)
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: {a.workload} run failed (exit {code})")
        with open(res_path) as f:
            res = json.load(f)
        spans = None
        if os.path.exists(os.path.join(work, "spans.json")):
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload == "curate_funnel":
            attempted += 1
            if not funnel_oracle_matches(work):
                failed += 1
                failures.append("funnel output differs from the DuckDB oracle")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = res["metrics"]
    if not a.trace:
        missing = [m["name"] for m in wanted if m["name"] not in measured]
        if missing:
            raise SystemExit(f"perfbench: metrics not measured: {missing}")
    # a per-layer metric of a layer the workload does not exercise is 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    for f in failures:
        sys.stderr.write(f"perfbench: check failed: {f}\n")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "result": out, "extra": measured, "spans": spans}) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
