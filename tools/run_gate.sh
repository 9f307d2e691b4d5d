#!/usr/bin/env bash
# One-command local gate: copied-code scan + tests + correctness (DuckDB
# oracle) + ads ETL smoke + pack smoke + bench smoke.
# Usage: tools/run_gate.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== Copied code in src/main =="
# lines repeating an earlier 5-line block; a stage several queries share
# belongs in one builder and its DuckDB twin, not in a new copy
python3 tools/dup_scan.py --max 107 | tail -n 1

echo "== sbt test =="
sbt test 2>&1 | grep -E "Tests: |All tests" || { echo "TESTS FAILED"; exit 1; }

echo "== Verify @$SF =="
sbt "runMain graft.Verify $SF target/verify_out" > /tmp/graft_verify.log 2>&1
grep "\[verify\]" /tmp/graft_verify.log || true
python3 tools/check_oracle.py "$SF" target/verify_out

echo "== Ads ETL smoke (perfbench ads_daily, traced) =="
python3 perfbench/run.py --workload ads_daily --seed 1 --seconds 8 --trace 1 \
  2>/tmp/graft_ads_smoke.err | tail -n 1 > /tmp/graft_ads_smoke.json
python3 - /tmp/graft_ads_smoke.json <<'PY'
import json, sys
r = json.load(open(sys.argv[1]))
m = r["metrics"]
for k in ("Pipelines.dailySync.jobs", "etl.rows_read_per_row", "InsightsSource.read.s",
          "InsightsSource.read.jobs", "SchemaEvolution.tableSchema.jobs",
          "Monitoring.healthCheck.jobs", "Pipelines.loadCsv.jobs"):
    print(f"{k} = {m[k]['value']:.3f}")
if r["correct"] is not True:
    sys.exit(f"ads smoke: correct = {r['correct']} (failed ops: {r['failed']}; see /tmp/graft_ads_smoke.err)")
# the daily sync reads a table the previous day's monitoring just read, so
# its schema must come from the memo, not a footer-merge job
if m["SchemaEvolution.tableSchema.jobs"]["value"] != 0:
    sys.exit("ads smoke: SchemaEvolution.tableSchema ran a footer-merge job in the daily sync")
# the read probes its files on the driver, so the day stays at 6 jobs
if m["Pipelines.dailySync.jobs"]["value"] > 6:
    sys.exit("ads smoke: Pipelines.dailySync ran more than 6 jobs (the file probe must not start jobs)")
# the CSV load is its two inference jobs plus the append's write; a fourth
# job means the load scans the table after appending again
if m["Pipelines.loadCsv.jobs"]["value"] > 3:
    sys.exit("ads smoke: Pipelines.loadCsv ran more than 3 jobs (a job after the append's write)")
PY

echo "== Pack smoke (perfbench pack, traced) =="
python3 perfbench/run.py --workload pack --seed 1 --seconds 8 --trace 1 \
  2>/tmp/graft_pack_smoke.err | tail -n 1 > /tmp/graft_pack_smoke.json
python3 - /tmp/graft_pack_smoke.json <<'PY'
import json, sys
r = json.load(open(sys.argv[1]))
m = r["metrics"]
for k in ("pack.jobs", "pack.eager_jobs", "q.gr1_pagerank.jobs",
          "q.tq3_shipping_priority.jobs", "q.tq18_big_orders.jobs"):
    print(f"{k} = {m[k]['value']:.1f}")
if r["correct"] is not True:
    sys.exit(f"pack smoke: correct = {r['correct']} (failed ops: {r['failed']}; see /tmp/graft_pack_smoke.err)")
# tq3 reads three unchanged tables whose schemas come from the memo; more
# than 4 jobs means a footer-inference job is back in the query body
if m["q.tq3_shipping_priority.jobs"]["value"] > 4:
    sys.exit("pack smoke: tq3_shipping_priority ran more than 4 jobs (a footer job came back)")
PY

echo "== Bench smoke @sf0.001 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt "runMain graft.Bench" 2>/dev/null \
  | grep '"metric"'

echo "== Per-query regression vs last recorded canonical =="
# BENCH_LAST.json is rewritten by each full sf0.1 bench run; compare the
# working copy against the last committed canonical and flag >2x moves.
# Both sides must be FULL canonicals (n >= 200 queries): a scratch
# single-query artifact must never masquerade as the baseline (VERDICT
# r13 item 3), and a >2x regression FAILS the gate (ADVICE r13 item 1 —
# a stale working copy is a reason to re-bench, not to ship a regression).
if git show HEAD:BENCH_LAST.json > /tmp/bench_prev.json 2>/dev/null \
   && [ -f BENCH_LAST.json ]; then
  for f in BENCH_LAST.json /tmp/bench_prev.json; do
    n=$(python3 -c "import json,sys; print(len(json.load(open(sys.argv[1])).get('queries',{})))" "$f")
    if [ "$n" -lt 200 ]; then
      echo "refusing regression compare: $f has only $n queries (need >= 200 — not a full canonical)"
      exit 1
    fi
  done
  python3 tools/bench_regression.py BENCH_LAST.json /tmp/bench_prev.json
else
  echo "skipped (no committed BENCH_LAST.json to compare against)"
fi
