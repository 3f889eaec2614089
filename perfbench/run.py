#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload dsl_programs --seed 1 --seconds 20 --trace 0

Builds the repository's `macros/` and `src/main/` sources and the JVM side
in `perfbench/scala/` with the Scala compiler shipped in the Spark
distribution (`$SPARK_HOME/jars`, else beside `spark-submit` on PATH), generates the
workload's inputs from the seed (`gen.py`), runs the workload as a closed
loop from one client thread against `local[4]` for `--seconds`, checks every
output (DuckDB over the generated inputs for query outputs, a plain-Scala
replay for the index operations), prints each metric by name and unit, and
ends with one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.

Everything it writes stays under `.bench_build/` in the checkout: compiled
classes (keyed by a hash of the sources), inputs (keyed by workload and
seed), per-run scratch (removed after the run) and one result artifact per
run under `.bench_build/results/`.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dsl_programs", "index_maintenance")
JVM_TIMEOUT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
UNITS = {"setup_s": "s", "pass_s": "s", "call_ms.kind_mean": "ms", "peak_rss_mb": "MiB"}

sys.dont_write_bytecode = True  # nothing written outside .bench_build
sys.path.insert(0, HERE)
import gen  # noqa: E402


def sources(rel):
    found = sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no Scala sources under {rel}; run from a full checkout")
    return found


def spark_jars():
    """The `jars` directory of the Spark distribution: $SPARK_HOME's, else
    that of a `spark-submit` on PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution with jars/scala-compiler-*.jar; set SPARK_HOME")


def build():
    """Compile macros, then main, then the benchmark, each into a directory
    keyed by a hash of its sources and of everything it compiles against,
    so an unchanged unit is reused."""
    units = [("macros", sources("macros/src/main")), ("main", sources("src/main")),
             ("bench", sources("perfbench/scala"))]
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    h = hashlib.sha256("\n".join(jars).encode())
    dirs = []
    for name, files in units:
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        out = os.path.join(WORK, "classes", f"{name}-{h.hexdigest()[:16]}")
        if not os.path.exists(out):
            t0 = time.time()
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                   "scala.tools.nsc.Main", "-usejavacp", "-Ymacro-annotations", "-nowarn",
                   "-classpath", os.pathsep.join(dirs) or ".", "-d", tmp] + files
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                raise SystemExit(f"perfbench: compiling {name} failed")
            os.replace(tmp, out)
            print(f"built {name} in {time.time() - t0:.1f} s", flush=True)
        dirs.append(out)
    return dirs


def inputs(workload, seed):
    d = os.path.join(WORK, "data", f"{workload}-{seed}")
    info = os.path.join(d, "inputs.json")
    if not os.path.exists(info):
        shutil.rmtree(d, ignore_errors=True)
        meta = gen.generate(workload, seed, d)
        with open(info + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(info + ".tmp", info)
    with open(info) as f:
        return d, json.load(f)


def cpu_ticks():
    """(steal, total) ticks of /proc/stat's cpu line, user..steal only."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def duckdb_check(data, out):
    """Compare each kept output with its reference SQL over the generated
    inputs; returns (wrong calls, per-label verdicts)."""
    import duckdb
    import numpy as np
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
                df[c] = df[c].map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(out, "check.json")) as f:
        checks = json.load(f)
    wrong, verdicts = 0, {}
    for label, c in checks.items():
        try:
            got = canon(con.execute(f"SELECT * FROM '{out}/check/{label}/*.parquet'").df())
            exp = canon(con.sql(c["sql"]).df())
            ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
            for col in got.columns if ok else []:
                a, b = got[col].to_numpy(), exp[col].to_numpy()
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    ok = np.array_equal(a.astype(float), b.astype(float), equal_nan=True)
                else:
                    ok = bool((pd.Series(a).astype(str) == pd.Series(b).astype(str)).all())
                if not ok:
                    break
            verdicts[label] = "pass" if ok else "FAIL"
        except Exception as e:  # a reference that cannot run is a failed check
            ok, verdicts[label] = False, f"FAIL: {e}"
        wrong += 0 if ok else c["calls"]
    return wrong, verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    classes = build()
    t1 = time.time()
    data, meta = inputs(a.workload, a.seed)
    t2 = time.time()
    run = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run, "scratch"),
               MALLOC_ARENA_MAX="2")
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS +
           # a fixed, pre-touched heap and few malloc arenas: peak RSS then
           # moves with off-heap and native memory, not with GC timing
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={run}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(list(reversed(classes)) + [os.path.join(spark_jars(), "*")]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", run])
    load0, (st0, tot0) = loadavg(), cpu_ticks()
    with open(os.path.join(run, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s (log: {run}/jvm.log)")
    st1, tot1 = cpu_ticks()
    t3 = time.time()
    res_path = os.path.join(run, "result.json")
    if r.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(res_path) as f:
        res = json.load(f)

    wrong_checked, verdicts = (0, {})
    if os.path.exists(os.path.join(run, "check.json")):
        wrong_checked, verdicts = duckdb_check(data, run)
    final_bad = int(res.get("extra", {}).get("final_state_ok") is False)
    failed = res["failed"] + res["wrong"] + wrong_checked + final_bad
    attempted = res["attempted"]
    timing = {"build_s": t1 - t0, "inputs_s": t2 - t1, "jvm_s": t3 - t2,
              "checks_s": time.time() - t3}
    host = {"loadavg_start": load0, "loadavg_end": loadavg(),
            "steal_share": (st1 - st0) / (tot1 - tot0) if tot1 > tot0 else None}
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["end_to_end"].items()}

    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "inputs": meta, "host": host, "timing": timing, "checks": verdicts,
                "correct": failed == 0, "attempted": attempted, "failed": failed,
                "result": res}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  passes {res['passes']}  "
          f"calls {attempted}  failed {failed}  error_rate {failed / attempted:.4f} ratio")
    for k, v in metrics.items():
        print(f"  {k:34s} {v['value']:14.4f} {v['unit']}")
    for k, v in res.get("workload_metrics", {}).items():
        print(f"  {k:34s} {v:14.4f} {'count' if k.endswith('.n') else 'ratio' if k.endswith(('recall', 'amp')) else 'ms'}")
    print(f"  host loadavg {host['loadavg_start']} -> {host['loadavg_end']}  "
          f"steal {host['steal_share']}")
    bad = {k: v for k, v in verdicts.items() if v != "pass"}
    if bad or res["errors"]:
        print(f"  failures: {bad} {res['errors']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def unit_of(name):
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith(".peak"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_amp", "util", "recall")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
