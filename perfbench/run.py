#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source state),
generates the input tables (once), runs the workload in a fresh JVM, checks
its results, and prints a table of figures followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits 1 when a result is wrong, 2 when the engine sources are missing.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = BENCH / ".work"
WORKLOADS = {"olap_mix": "sf0.1", "wire_short": "sf0.1",
             "pipeline_iter": "sf0.01", "ingest_rw": "sf0.1"}
# module opens Spark needs on JDK 17 when not launched by spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


def run_quiet(cmd, logfile, timeout, env=None, cwd=ROOT):
    """Run cmd with output to logfile, in its own process group so a timeout
    stops everything it started. Returns the exit code."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def tail(path, n=30):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def source_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", HARNESS / "build.sbt",
               HARNESS / "project" / "build.properties", HARNESS / "src" / "main"]
    stamp = source_hash([p for p in sources if p.exists()])
    cp_file = WORK / "classpath.txt"
    if cp_file.exists() and (WORK / "build.stamp").exists() and \
            (WORK / "build.stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    logfile = WORK / "build.log"
    code = run_quiet(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                      "export perfbench/Runtime/fullClasspath"], logfile, 800, env, HARNESS)
    lines = Path(logfile).read_text(errors="replace").splitlines()
    cp = [ln for ln in lines if "harness" in ln and "classes" in ln and ":" in ln
          and not ln.startswith("[")]
    if code != 0 or not cp:
        die(f"build failed (exit {code}):\n{tail(logfile)}")
    cp_file.write_text(cp[-1].strip())
    (WORK / "build.stamp").write_text(stamp)
    return cp[-1].strip()


def java_cmd(cp, *args):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
            ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, "perfbench.Main"] + list(args))


def ensure_data(cp):
    data = WORK / "data"
    stamp = source_hash([HARNESS / "src" / "main" / "scala" / "perfbench" / "DataGen.scala"])
    done = data / "data.stamp"
    if done.exists() and done.read_text() == stamp:
        return data
    log("generating input tables")
    code = run_quiet(java_cmd(cp, "gen", str(data)), WORK / "gen.log", 600)
    if code != 0:
        die(f"data generation failed (exit {code}):\n{tail(WORK / 'gen.log')}")
    done.write_text(stamp)
    return data


# ---- result checks against DuckDB -------------------------------------------

def canon(v):
    """DuckDB value -> the JSON value the harness writes for the same cell."""
    import datetime
    import decimal
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def same_value(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def by_name(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [[r[i] for i in order] for r in rows]


def oracle_rows(con, sql, cache, key):
    if key not in cache:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        cache[key] = {"columns": cols, "rows": [[canon(v) for v in r] for r in cur.fetchall()]}
    return cache[key]


def check_with_duckdb(report, data_dir):
    """Compare each checked statement's first result with DuckDB over the
    same parquet files. Returns (failed executions, messages)."""
    checks = report["checks"]
    if not checks:
        return 0, []
    import duckdb
    cache_file = WORK / "oracle-cache.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    data_stamp = (WORK / "data" / "data.stamp").read_text()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(p.name[:-len(".parquet")] for p in data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir / (t + '.parquet')}/*.parquet')")
    failed, msgs = 0, []
    for c in checks:
        key = hashlib.sha256(f"{data_stamp}|{data_dir.name}|{c['oracle']}".encode()).hexdigest()
        try:
            want = oracle_rows(con, c["oracle"], cache, key)
        except Exception as e:  # the oracle itself failed: count it, do not guess
            failed += c["executions"]
            msgs.append(f"{c['kind']}: oracle error {e}")
            continue
        wc, wr = by_name(want["columns"], want["rows"])
        gc, gr = by_name(c["columns"], c["rows"])
        if wc != gc or len(wr) != len(gr) or not all(same_value(a, b) for a, b in zip(gr, wr)):
            failed += c["executions"]
            msgs.append(f"{c['kind']}: rows differ from DuckDB for: {c['text'][:160]}")
    con.close()
    cache_file.write_text(json.dumps(cache))
    return failed, msgs


# ---- main ------------------------------------------------------------------

def units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        die(f"engine sources not found under {ROOT}; run from a full checkout", 2)
    WORK.mkdir(exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    cp = build()
    data = ensure_data(cp)
    unit = units()

    scratch = WORK / "run"
    subprocess.run(["rm", "-rf", str(scratch)], check=True)
    scratch.mkdir()
    out = scratch / "report.json"
    spawn_ms = time.time() * 1000
    code = run_quiet(java_cmd(cp, "run", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data", str(data), "--work", str(scratch), "--out", str(out),
                              "--spawn-ms", f"{spawn_ms:.3f}"),
                     WORK / "run.log", max(30, RUN_TIMEOUT_S - (time.time() - started)))
    if code != 0 or not out.exists():
        die(f"run failed (exit {code}):\n{tail(WORK / 'run.log')}")
    report = json.loads(out.read_text())
    bad, msgs = check_with_duckdb(report, data / WORKLOADS[a.workload])
    attempted = report["attempted"]
    failed = min(attempted, report["failed"] + bad)
    errors = report["errors"] + msgs

    e2e = dict(report["end_to_end"])
    e2e["setup_s"] = statistics.median(report["setup_s"])
    e2e["heap_live_mb"] = report["heap_live_mb"]
    extra = dict(report["extra"])
    extra["run.error_share"] = failed / attempted
    layers = dict(report["per_layer"])
    if a.trace:
        layers["run.error_share"] = failed / attempted
        metrics = {k: layers[k] for k in layers}
    else:
        metrics = {k: e2e[k] for k in e2e}

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}")
    print(f"  {'setup_s (3 set-ups)':28s} {' '.join(f'{x:.3f}' for x in report['setup_s'])} s")
    print(f"  {'pass_s (each pass)':28s} {' '.join(f'{x:.3f}' for x in report['pass_s'])} s")
    for k, v in e2e.items():
        print(f"  {k:28s} {v:14.4f} {unit.get(k, '')}")
    for k, v in extra.items():
        print(f"  {k:28s} {v:14.4f}")
    if a.trace:
        for k, v in layers.items():
            print(f"  {k:28s} {v:14.4f} {unit.get(k, '')}")
        for k, v in report["self_ms"].items():
            print(f"  self {k:23s} {v:14.4f} ms/op")
    for e in errors[:10]:
        print(f"  error: {e}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit.get(k, "")} for k, v in metrics.items()},
    }), flush=True)
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
