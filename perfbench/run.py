#!/usr/bin/env python3
"""Benchmark for the graft engine: three workloads timed to the full result.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {migrate,curate_warehouse} \
      --seed N --seconds S --trace {0,1}

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Each run copies the workload's fixture tables with a row order
drawn from the seed, starts one JVM with a local[nproc] session, and
measures a closed loop with a single client. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of the named workload; with --trace 1 one
traced pass of every workload yields the per-layer metrics, and the spans
go to perfbench/.work/spans/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
FIXTURES = BENCH / "fixtures"
WORKLOADS = ("migrate", "curate_warehouse")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# curate_warehouse reads the first documents by doc_id: the per-row text
# kernels cost 12-53 ms a document in a single task, so the full
# 500-document table would not fit a pass in a run (see README.md).
CURATE_DOCS = 24
SCALE = "sf0.01"
E2E = ("pass_s", "setup_s", "ok_frac")
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Builds engine and harness unless a build of these sources exists;
    returns the harness's runtime classpath."""
    cp_file = BENCH / "target" / "classpath.txt"
    stamp_file = WORK / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    (WORK / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    with open(WORK / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
                           timeout=840)
    if r.returncode != 0 or not cp_file.exists():
        raise BenchError("build failed; see perfbench/.work/build.log")
    classpath = cp_file.read_text().strip()
    archive_classes(classpath)
    stamp_file.write_text(stamp)
    return classpath


def archive_classes(classpath):
    """Records the classes one untimed pass of every workload loads into
    a class-data sharing archive, which later runs map instead of
    loading those classes one by one. Optional: without it runs are
    only slower to start."""
    jsa = WORK / "classes.jsa"
    jsa.unlink(missing_ok=True)
    run_dir = WORK / "archive-run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for w in WORKLOADS:
        prepare(w, "sf0.001", 0, run_dir / "in" / w)
    try:
        run_jvm(classpath, ["--workloads", ",".join(WORKLOADS), "--seed", "0", "--seconds", "0",
                            "--trace", "0", "--min-passes", "0", "--input", str(run_dir / "in"),
                            "--work", str(run_dir), "--out", str(run_dir / "result.json")],
                run_dir, time.time() + 600, [f"-XX:ArchiveClassesAtExit={jsa}"])
    except BenchError as e:
        log(f"no class-data archive: {e}")
        jsa.unlink(missing_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)


# --------------------------------------------------------------- inputs

def prepare(workload, scale, seed, dest):
    """Writes the workload's tables to `dest`, each in a row order drawn
    from the seed."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    dest.mkdir(parents=True)
    for i, t in enumerate(TABLES):
        table = pq.read_table(FIXTURES / scale / f"{t}.parquet")
        if workload == "curate_warehouse" and t == "documents":
            table = table.take(pc.sort_indices(table, [("doc_id", "ascending")]))
            table = table.slice(0, CURATE_DOCS)
        perm = np.random.default_rng([seed & 0xFFFFFFFF, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), dest / f"{t}.parquet")


def fixture_key(workload, scale):
    h = hashlib.sha256(f"{workload}/{scale}/{CURATE_DOCS}".encode())
    for t in TABLES:
        h.update((FIXTURES / scale / f"{t}.parquet").read_bytes())
    return h.hexdigest()[:16]


# --------------------------------------------------------------- oracle

def normalized(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        try:
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        except TypeError:  # list-valued columns: order by their text form
            key = df.astype(str)
            df = df.loc[key.sort_values(by=list(key.columns)).index].reset_index(drop=True)
    return df


def same_result(exp, got):
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != oracle {len(exp)}"
    try:
        if exp.equals(got):
            return None
    except Exception:
        pass
    if exp.astype(str).equals(got.astype(str)):
        return None
    return "values differ from the oracle"


def oracle_check(workload, scale, checks, input_dir):
    """Compares each written result with DuckDB running the op's oracle
    SQL over the same tables; returns {op: error} for the failures.
    Expected results are cached per fixture."""
    import duckdb
    import pandas as pd
    cache = WORK / "oracle" / fixture_key(workload, scale)
    cache.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir / t}.parquet')")
    failures = {}
    for c in checks:
        op = c["op"]
        if c.get("error"):
            failures[op] = c["error"]
            continue
        if not c["sql"]:
            failures[op] = "no oracle SQL"
            continue
        path = cache / f"{op}-{hashlib.sha256(c['sql'].encode()).hexdigest()[:12]}.pkl"
        try:
            if path.exists():
                exp = pd.read_pickle(path)
            else:
                exp = normalized(con.execute(c["sql"]).fetchdf())
                exp.to_pickle(path)
            got = normalized(con.execute(
                f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')").fetchdf())
            why = same_result(exp, got)
        except Exception as e:  # noqa: BLE001 - any oracle error fails the op
            why = f"oracle check error: {e}"
        if why:
            failures[op] = why
    return failures


# ------------------------------------------------------------ measuring

def run_jvm(classpath, args, run_dir, deadline, jvm_flags=None):
    out = run_dir / "jvm.log"
    jsa = WORK / "classes.jsa"
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *JAVA_OPENS, *jvm_flags, "-XX:-UsePerfData", "-Xmx3g",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(out, "w") as f:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("the harness JVM ran out of time")
        finally:  # on a timeout or SIGTERM (see main) the JVM never outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.copy(out, WORK / "last_jvm.log")
    if p.returncode != 0:
        tail = out.read_text().splitlines()[-15:]
        raise BenchError("the harness JVM failed:\n" + "\n".join(tail))


def measure(workloads, seed, seconds, trace, scale=SCALE, corrupt=(), min_passes=1,
            started=None):
    """One JVM over `workloads`; returns its parsed output with each
    workload's oracle failures and set-up time added."""
    started = started or time.time()
    t_build = time.time()
    classpath = build()
    deadline = started + (time.time() - t_build) + RUN_LIMIT_S
    t_prep = time.time()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for w in workloads:
        prepare(w, scale, seed, run_dir / "in" / w)
    prep_s = time.time() - t_prep
    (WORK / "spans").mkdir(parents=True, exist_ok=True)
    spans = WORK / "spans" / f"trace-seed{seed}.json"
    args = ["--workloads", ",".join(workloads), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--input", str(run_dir / "in"), "--work", str(run_dir),
            "--out", str(run_dir / "result.json"), "--min-passes", str(min_passes)]
    if trace:
        args += ["--spans", str(spans)]
    if corrupt:
        args += ["--corrupt", ",".join(corrupt)]
    t_spawn = time.time()
    run_jvm(classpath, args, run_dir, deadline)
    result = json.loads((run_dir / "result.json").read_text())
    jvm_start_s = result["session_ready_ms"] / 1000.0 - t_spawn
    for w in result["workloads"]:
        w["setup_s"] = prep_s + jvm_start_s + w["warmup_s"]
        w["oracle_failures"] = oracle_check(w["workload"], scale, w["checks"],
                                            run_dir / "in" / w["workload"])
    shutil.rmtree(run_dir, ignore_errors=True)
    if trace:
        log(f"spans written to {spans.relative_to(ROOT)}")
    return result


def tally(w):
    """(attempted, failed) over the timed and traced passes and the oracle
    check."""
    ops = [o for p in w["passes"] for o in p["ops"]] + w["traced_ops"]
    attempted = len(ops) + len(w["checks"])
    failed = sum(1 for o in ops if o.get("error")) + len(w["oracle_failures"])
    return attempted, min(failed, attempted)


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_util", "task_skew", "overlap", "write_amp", "_frac")):
        return "ratio"
    return "count"


def end_to_end(w):
    attempted, failed = tally(w)
    passes = w["passes"]
    values = {
        "pass_s": statistics.median(p["seconds"] for p in passes),
        "setup_s": w["setup_s"],
        "ok_frac": 1.0 - failed / attempted,
    }
    return {k: {"value": values[k], "unit": unit_of(k)} for k in E2E}


def report_failures(ws):
    for w in ws:
        for o in [o for p in w["passes"] for o in p["ops"]] + w["traced_ops"]:
            if o.get("error"):
                log(f"{w['workload']}: {o['op']} failed: {o['error'][:300]}")
        for op, why in w["oracle_failures"].items():
            log(f"{w['workload']}: {op} failed the oracle check: {why[:300]}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    started = time.time()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no graft engine sources next to {BENCH.name}/ (build.sbt, src/main/scala)")
    WORK.mkdir(exist_ok=True)
    if a.trace:
        result = measure(WORKLOADS, a.seed, 0, True, min_passes=0, started=started)
        metrics = {}
        for w in result["workloads"]:
            metrics.update({k: {"value": v, "unit": unit_of(k)} for k, v in w["layers"].items()})
    else:
        result = measure((a.workload,), a.seed, a.seconds, False, started=started)
        metrics = end_to_end(result["workloads"][0])
    counts = [tally(w) for w in result["workloads"]]
    attempted, failed = sum(c[0] for c in counts), sum(c[1] for c in counts)
    report_failures(result["workloads"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def terminated(signum, frame):
    raise BenchError(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminated)
    try:
        main(sys.argv[1:])
    except BenchError as e:
        log(str(e))
        sys.exit(2)
