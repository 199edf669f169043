#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs one
workload in one JVM (perfbench/scala/Main.scala), checks the registry
outputs against their DuckDB oracle SQL with the comparison rules of
tools/check.py, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("daily_refresh", "star_reads")
END_TO_END = ("setup_s", "ops_per_s", "op_s.p50", "heap_peak_mb")
JVM_TIMEOUT_S = 170


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_jvm(classpath, archive, sf, work, a):
    cmd = ["java", f"-XX:SharedArchiveFile={archive}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + \
        build.jvm_args(classpath) + \
        ["perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
         work, sf]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{a.workload}: the JVM ran past {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{a.workload}: the JVM exited {p.returncode} without a result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_failures(sf, out_dir):
    """Registry outputs that disagree with their DuckDB oracle, by name."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import check  # the repo's comparison rules, used as they are
    con = duckdb.connect()
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, f)}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.sql(
                f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')")
            duck_rel = con.sql(sql)
            spark_df, duck_df = spark_rel.df(), duck_rel.df()
        except Exception as e:  # an unreadable output or oracle error fails it
            bad[name] = str(e).splitlines()[0][:200]
            continue
        dec = check.decimal_cols(spark_rel) + check.decimal_cols(duck_rel)
        ok, msg = (False, f"DECIMAL columns {dec}") if dec else \
            check.compare(spark_df, duck_df)
        if not ok:
            bad[name] = msg.splitlines()[0][:200]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, archive, sf, dash = build.ensure()
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "star_reads":
        # the dashboard warehouse, read from the run's working directory
        shutil.copytree(dash, os.path.join(work, "dash-wh"))
    try:
        r = run_jvm(classpath, archive, sf, work, a)
        problems = list(r["problems"])
        errors = {k: int(v) for k, v in r["errors"].items()}
        bad = {}
        out_dir = os.path.join(work, "out")
        if os.path.isdir(out_dir):
            bad = oracle_failures(sf, out_dir)
        for name in sorted(set(bad) | set(errors)):
            problems.append(f"{name}: {bad.get(name) or 'raised in the timed phase'}")
        failed = sum(errors.values())
        for p in problems:
            sys.stderr.write(f"[perfbench] check failed: {p}\n")
        metrics = r["metrics"]
        if a.trace:
            # a layer the workload does not reach reads 0
            out = {n: metrics.get(n, {"value": 0.0, "unit": u})
                   for n, u in per_layer_units().items()}
        else:
            out = {n: metrics[n] for n in END_TO_END}
        print(json.dumps({"correct": not problems, "attempted": int(r["attempted"]),
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
