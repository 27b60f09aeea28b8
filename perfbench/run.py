"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <registry|lineage_wide>
                           --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py),
generates the registry's input tables once per checkout
(perfbench/datagen.py), runs the workload in one JVM (graft.perfbench.Main),
applies the DuckDB oracle gate to the registry's warm-up outputs, and prints
two lines: the run's full JSON document (every metric with its unit and
sample count, the environment stamp, any failures), then the result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Exits non-zero when
a correctness gate fails or a metric is missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The registry's tables: a fixed data seed and scale, so every run and every
# commit time the same rows; the run seed permutes the query order.
DATA_SF, DATA_SEED = 0.01, 42
JVM_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def busy_cores(window_s=0.5):
    """Cores kept busy by other processes just before the run (/proc/stat)."""
    def sample():
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]
    try:
        t0, i0 = sample()
        time.sleep(window_s)
        t1, i1 = sample()
        return (os.cpu_count() or 1) * (1 - (i1 - i0) / max(t1 - t0, 1))
    except OSError:
        return -1.0


def sha256_of(*texts):
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
    return h.hexdigest()


def ensure_data():
    """The registry's tables, generated once per version of datagen.py."""
    with open(os.path.join(HERE, "datagen.py")) as f:
        version = sha256_of(f.read())[:12]
    data = os.path.join(BUILD, "data", f"sf{DATA_SF}-seed{DATA_SEED}-{version}")
    marker = os.path.join(data, ".complete")
    if not os.path.exists(marker):
        import datagen
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(data, DATA_SF, DATA_SEED)
        open(marker, "w").close()
    return data


def oracle_gate(data, gate):
    """Compare each warm-up result with its DuckDB oracle, using the
    canonical value hash of tools/check.py. Returns (checked, failures).

    An oracle's hash depends only on its SQL, the tables and the hash
    function, so it is cached beside the tables under a key of the SQL
    and the source of `canon`; the Spark side is hashed on every run."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import inspect
    import duckdb
    from check import TABLES, canon
    canon_src = inspect.getsource(canon)
    oracle = json.load(open(os.path.join(gate, "oracle_sql.json")))
    cache_path = os.path.join(data, "oracle_hashes.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(gate, 'duckdb_tmp')}'")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracle.items()):
        key = sha256_of(sql, canon_src)
        try:
            if key not in cache:
                ora_df = con.execute(sql).df()
                cache[key] = [len(ora_df), sorted(ora_df.columns), canon(ora_df)]
            spark_df = con.execute(f"SELECT * FROM '{gate}/{name}/*.parquet'").df()
            got = [len(spark_df), sorted(spark_df.columns), canon(spark_df)]
            if got != cache[key] or got[0] == 0:
                failures.append(f"oracle {name}: rows {got[0]}/{cache[key][0]}, result differs")
        except Exception as e:  # a query whose output is missing or unreadable
            failures.append(f"oracle {name}: {e}")
    con.close()
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return len(oracle), failures


def run_jvm(classes, args, work, limit_s):
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes)] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -1
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
    return code


def selftest():
    classes = build.build(tests=True)
    res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                          "graft.perfbench.SelfTest"])
    return res.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    started = time.time()
    busy = busy_cores()
    classes = build.build()
    data = ensure_data() if a.workload == "registry" else ""
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "run.json")
    limit = max(30, JVM_LIMIT_S - (time.time() - started))
    log(f"started the JVM after {time.time() - started:.1f} s")
    code = run_jvm(classes, ["graft.perfbench.Main", "--workload", a.workload,
                             "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--data", data, "--work", work,
                             "--out", out], work, limit)
    if code != 0 or not os.path.exists(out):
        log(f"run failed (JVM exit {code})")
        return 1
    log(f"the JVM ended after {time.time() - started:.1f} s")
    doc = json.load(open(out))
    failures = list(doc["failures"])
    attempted, failed = doc["attempted"], doc["failed"]
    if a.workload == "registry":
        checked, gate_failures = oracle_gate(data, os.path.join(work, "gate"))
        attempted += checked
        failed += len(gate_failures)
        failures += gate_failures
    for f in failures:
        log(f"FAIL {f}")

    env = doc["env"]
    env["busy_cores_before"] = round(busy, 3)
    # another tenant was using the cores when the run began or took CPU
    # time from this VM during it; such runs are kept, and flagged
    env["co_tenant_load"] = busy > 0.5 or env["steal_ratio"] > 0.02
    measured = {m["name"]: m for m in doc["metrics"]}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        log(f"metrics not measured: {missing}")
        return 1

    # tracing overhead: this run against the untraced run of the same seed
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        other = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(other):
            base = {m["name"]: m["value"] for m in json.load(open(other))["metrics"]}
            if "op_ms_p50" in base:
                doc["trace_overhead_op_ms_p50"] = measured["trace.op_ms_p50"]["value"] - base["op_ms_p50"]
    doc.update(attempted=attempted, failed=failed, failures=failures[:50])
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(doc, f, indent=1)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(doc, separators=(",", ":")))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
