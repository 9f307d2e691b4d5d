#!/usr/bin/env python3
"""Benchmark of the ads ETL jobs and a slice of the query pack.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repository and the
harness (``perfbench/harness``, an sbt build) into ``target/`` dirs and
records the classpath in ``.bench_build/``; later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed under
a fresh ``.bench_build/run-*`` directory, runs one JVM at ``local[nproc]``,
checks the outputs against the generator's expectations (ads) or DuckDB
running each query's oracle SQL on the same tables (packs), removes the run
directory, and prints one JSON object as its last line.
"""
import argparse
import datetime as dt
import decimal
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
HARNESS = ROOT / "perfbench" / "harness"
RUN_LIMIT_S = 150  # seconds one run may take after the build

# The pack slice: round-loop graph queries (eager jobs inside the query
# body) and star-schema joins (Catalyst planning, AQE join stages).
PACK = ["gr1_pagerank", "tq3_shipping_priority", "tq18_big_orders"]

# Input sizes per workload. Keep in step with BENCHMARK.json.
SIZES = {
    # warm_days: one per set-up of a run (perfbench.Main.Setups)
    "ads_daily": {"accounts": 8, "rows_per_account": 200, "days": 12, "warm_days": 3,
                  "batch_rows_per_account": 50, "batch_days": 4},
    "pack": {"sf": 0.01},
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", HARNESS / "project", HARNESS / "src"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the repository and the harness; return the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", HARNESS / "build.sbt"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} not found: run from the repository root")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                              "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                              + " -Dsbt.offline=true") + " -Xmx2g -Dsbt.server.autostart=false"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       capture_output=True, text=True, timeout=840)
    cp = [l for l in p.stdout.splitlines() if "perfbench/harness/target" in l and ":" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def make_inputs(workload, seed, run_dir):
    """Generate the workload's inputs; return (manifest, expectations)."""
    size = SIZES[workload]
    inp = run_dir / "input"
    rng = random.Random(f"{seed}:{workload}")
    if workload == "ads_daily":
        m, exp = gen.ads_daily(rng, inp, size["accounts"], size["rows_per_account"],
                               size["days"], size["warm_days"])
        batch, batch_exp = gen.ads_backfill(rng, inp, size["accounts"],
                                            size["batch_rows_per_account"],
                                            size["batch_days"])
        m.update(batch, input=str(inp))
        exp = {"days": exp, "batch": batch_exp}
    else:
        gen.star_schema(seed, inp / "tables", size["sf"])
        m = {"tables": str(inp / "tables"), "queries": ",".join(PACK)}
        exp = None
    return m, exp


def run_jvm(cp, manifest, run_dir, deadline):
    props = run_dir / "manifest.properties"
    props.write_text("".join(f"{k}={v}\n" for k, v in manifest.items()))
    out = run_dir / "result.json"
    (run_dir / "tmp").mkdir()
    cmd = (["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC", *JVM_OPENS,
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", str(props), str(out)])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the run did not finish in time")
        finally:  # also on SIGTERM or Ctrl-C: the JVM never outlives the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    for line in (run_dir / "jvm.log").read_text().splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    return json.loads(out.read_text())


def check_table(got, exp, where):
    bad = []
    for k in ("rows", "impressions", "clicks", "spend_cents", "actions_sum"):
        if got.get(k) != exp[k]:
            bad.append(f"{where}: {k} {got.get(k)} != expected {exp[k]}")
    if sorted(got.get("action_columns", [])) != sorted(exp["action_columns"]):
        bad.append(f"{where}: action columns differ from expected")
    return bad


def canon(cols, rows):
    """Columns sorted by name, values normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float, decimal.Decimal)):
            return round(float(v), 6)
        if isinstance(v, dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S")
        return str(v)
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda r: [(x is None, str(type(x)), x) for x in r])


def same(a, b):
    """Equal columns and rows, floats within 1e-6 relative."""
    if a[0] != b[0] or len(a[1]) != len(b[1]):
        return False
    for ra, rb in zip(a[1], b[1]):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 1e-6 * max(1.0, abs(x), abs(y)):
                    return False
            elif x != y:
                return False
    return True


def check(workload, res, exp, tables_dir):
    """Compare what the harness observed with what the inputs imply."""
    c, bad = res["checks"], []
    if workload == "ads_daily":
        total = {"rows": 0, "impressions": 0, "clicks": 0, "spend_cents": 0,
                 "actions_sum": 0, "action_columns": set()}
        if len(c["days"]) == 0:
            bad.append("no day synced")
        for i, (day, (date, e)) in enumerate(zip(c["days"], exp["days"])):
            for k in ("rows", "impressions", "clicks", "spend_cents", "actions_sum"):
                total[k] += e[k]
            total["action_columns"] |= e["action_columns"]
            if day["day"] != date or day["synced_rows"] != e["rows"]:
                bad.append(f"{date}: synced {day['synced_rows']} rows, expected {e['rows']}")
            if day["table_rows"] != total["rows"]:
                bad.append(f"{date}: table has {day['table_rows']} rows, expected {total['rows']}")
            if day["health"] != "OK" or day["rollup_rows"] != min(i + 1, 7):
                bad.append(f"{date}: monitoring read {day['health']}/{day['rollup_rows']}")
        bad += check_table(c["table"], total, "table")
        b, e = c["batch"], exp["batch"]
        for k in ("backfilled_rows", "loaded_rows"):
            if b.get(k) != e["rows"]:
                bad.append(f"batch: {k} {b.get(k)} != expected {e['rows']}")
        if len(b.get("compact_files", [])) != 2 or b["compact_files"][1] < 1:
            bad.append(f"batch: compact reported {b.get('compact_files')}")
        bad += check_table(b.get("table", {}), e, "batch: compacted table")
    else:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        for name in sorted(set(c["results"]) | set(c["oracle"])):
            if name not in c["oracle"]:
                bad.append(f"{name}: no oracle SQL")
                continue
            cur = con.execute(c["oracle"][name])
            want = canon([d[0] for d in cur.description], cur.fetchall())
            got = [canon(c["columns"][name], rows) for rows in c["results"].get(name, [])]
            if not got:
                bad.append(f"{name}: no result")
            for g in got:
                if not same(g, want):
                    bad.append(f"{name}: result differs from its oracle "
                               f"({len(g[1])} rows vs {len(want[1])})")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "BENCHMARK.json").exists():
        fail("BENCHMARK.json not found: run from the repository root")
    global SPEC
    SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = BUILD / f"run-{os.getpid()}-{int(time.time() * 1000)}"
    run_dir.mkdir(parents=True)
    try:
        manifest, exp = make_inputs(a.workload, a.seed, run_dir)
        manifest.update({"workload": a.workload, "scratch": str(run_dir / "out"),
                         "cpus": len(os.sched_getaffinity(0)), "seconds": a.seconds, "trace": a.trace})
        res = run_jvm(cp, manifest, run_dir, deadline)
        bad = check(a.workload, res, exp, run_dir / "input" / "tables")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for b in bad[:20]:
        print(f"check failed: {b}", file=sys.stderr)
    for e in res["errors"]:
        print(f"op failed: {e}", file=sys.stderr)
    attempted, failed = res["attempted"], res["failed"]
    observed = dict(res["metrics"], ok_ratio=(attempted - failed) / max(attempted, 1))
    # every metric BENCHMARK.json names for this mode; a per-layer metric a
    # workload does not exercise reads 0
    names = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    metrics = {x["name"]: {"value": observed.get(x["name"], 0.0), "unit": x["unit"]}
               for x in names}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
