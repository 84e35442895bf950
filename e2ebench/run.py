#!/usr/bin/env python3
"""One benchmark run: `python3 e2ebench/run.py --workload W --seed N
--seconds S --trace 0|1`, from the repository root.

Builds the engine and the harness (e2ebench/build.py), runs workload W in one
JVM, checks its outputs (the harness's own gate, plus DuckDB's oracle for
batch_sql), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
The full run record lands in <build dir>/reports/."""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("tick_fresh", "state_growth", "batch_sql")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def metric_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(root, cp, args, run_dir, log_path):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    archive = build.cds_archive(root)
    fresh_archive = archive + ".new"
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={fresh_archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.e2ebench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = None
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # timed out, or this process is being stopped: take the JVM along
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if os.path.exists(fresh_archive):
        if code == 0:
            os.replace(fresh_archive, archive)
        else:
            os.remove(fresh_archive)
    return code


def oracle_check(run_dir, result):
    """batch_sql: each query's result must equal DuckDB's oracle statement over
    the same generated tables (columns sorted by name, rows sorted)."""
    import duckdb
    con = duckdb.connect()
    tables = os.path.join(run_dir, "tables")
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{tables}/{name}/*.parquet'")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for q, sql in sorted(oracle.items()):
        result["attempted"] += 1
        try:
            exp = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM '{run_dir}/results/{q}/*.parquet'").df()
            exp = exp.reindex(sorted(exp.columns), axis=1)
            got = got.reindex(sorted(got.columns), axis=1)
            ok = list(exp.columns) == list(got.columns) and len(exp) == len(got)
            if ok:
                for df in (exp, got):
                    for c in df.columns:
                        if str(df[c].dtype).startswith("datetime64"):
                            try:
                                df[c] = df[c].dt.tz_localize(None)
                            except (TypeError, AttributeError):
                                pass
                cols = list(exp.columns)
                e = exp.astype(str).sort_values(cols, ignore_index=True)
                g = got.astype(str).sort_values(cols, ignore_index=True)
                ok = e.equals(g)
        except Exception as ex:  # a failed oracle is a failed check
            ok = False
            result["problems"].append(f"oracle {q}: {type(ex).__name__}: {ex}")
        if not ok:
            bad.append(q)
            result["failed"] += 1
    if bad:
        result["problems"].append("oracle mismatch: " + ",".join(bad))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run `finally` blocks
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--epochs", type=int, help="fixed epoch count instead of --seconds")
    a = ap.parse_args()

    root = os.getcwd()
    e2e, layers = metric_spec(root)
    cp = build.build(root)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    bdir = os.path.join(root, build.BUILD_DIR)
    run_dir = os.path.join(bdir, "runs", tag)
    reports = os.path.join(bdir, "reports")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir]
    if a.epochs:
        args += ["--epochs", str(a.epochs)]
    t0 = time.time()
    try:
        code = run_jvm(root, cp, args, run_dir, os.path.join(reports, tag + ".log"))
        res_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(res_path):
            sys.exit(f"harness failed (exit {code}); see {reports}/{tag}.log")
        with open(res_path) as f:
            result = json.load(f)
        if a.workload == "batch_sql":
            oracle_check(run_dir, result)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["wall_s"] = time.time() - t0
    with open(os.path.join(reports, tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)

    if a.trace:
        # a layer the workload does not exercise reads 0
        got = result["per_layer"]
        metrics = {m["name"]: {"value": got.get(m["name"]) or 0.0, "unit": m["unit"]} for m in layers}
    else:
        got = result["end_to_end"]
        metrics = {m["name"]: {"value": got.get(m["name"]), "unit": m["unit"]} for m in e2e}
    for p in result["problems"]:
        print("problem:", p, file=sys.stderr)
    failed = result["failed"]
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        print("missing metrics: " + ",".join(missing), file=sys.stderr)
        failed += 1
    summary = {"correct": result["correct"] and failed == 0,
               "attempted": result["attempted"], "failed": failed, "metrics": metrics}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
