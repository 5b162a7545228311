#!/usr/bin/env bash
# Full local replica of the driver gate, plus the per-round artifacts:
#
#   tools/gate.sh r06
#
# 1. sbt test                      — every ScalaTest spec
# 2. Smoke (sf0.001)               — entry() + every query builds & runs;
#                                    FAILS on any [smoke] FAIL line and
#                                    on a missing "[smoke] entry rows=N OK"
# 3. Verify (sf0.01) + DuckDB      — the t2 correctness gate: FAILS on
#                                    check_oracle.py's exit status AND on
#                                    a non-equal-count summary (the
#                                    "269/272 OK" fail-open is closed by
#                                    the \1 backreference)
# 4. PlanAudit → PLANS_<round>.txt — committed plan-shape artifact;
#                                    HARD-FAILS on PlanAudit's own exit
#                                    status (CartesianProduct / build
#                                    error) — greps are anchored to the
#                                    tool's [plan] prefix so log4j noise
#                                    containing "ERROR" can't false-fail
#                                    (ContractSpec holds the finer
#                                    bounded-build-side BNLJ gate)
# 5. Bench (sf0.1)                 — full sweep; >2x-baseline flags are
#                                    auto re-measured in-JVM (Bench.scala);
#                                    FAILS when the sidecar JSON reports
#                                    any failed or surviving-flagged query
# 6. Top-15 isolated re-bench      — the 15 most expensive queries by
#                                    baseline cost, re-run in a FRESH JVM
#                                    after the sweep: bounds the session
#                                    GC/JIT drift the committed baseline
#                                    can ever absorb; same JSON fail check
# 7. sf1 scaling spot-check        — four iterative-family
#                                    representatives at 32 vs 8 cores;
#                                    FAILS on a crashed bench run, a
#                                    missing or zero timing, or an
#                                    8c/32c ratio under 0.7
# 8. Ingest pass counters          — one traced dwh_ingest benchmark run
#                                    (perfbench/run.py, seed 1, 15 s);
#                                    FAILS on a crashed run, any failed
#                                    operation, more than 150
#                                    extractions per pass (one per landed
#                                    file), or engine.poll_jobs above 21
#                                    (2 jobs per poll, plus one ipphist
#                                    scan per pass for the patient map)
# 9. Panel execute counters        — one traced query_panels benchmark run
#                                    (perfbench/run.py, seed 1, 15 s);
#                                    FAILS on a crashed run or any failed
#                                    query (a golden-hash mismatch);
#                                    prints execute.s,
#                                    execute.max_tasks_per_stage and each
#                                    panel query's execute.s
#
# Step 0 (baseline freshness) and step 3b (Verify under adverse planner
# settings) run before steps 1 and 4 respectively. Every `runMain` must
# exit 0: a main that crashes fails its own step, with the tail of its
# stderr, not a later parse or oracle check.
set -u
cd "$(dirname "$0")/.."
ROUND=${1:?usage: tools/gate.sh rNN}

# Shared check: a Bench sidecar JSON must exist, be fresh (we delete it
# before each run), and carry empty failed[] and flagged[] arrays.
check_bench_json() {
  python3 - "$1" <<'EOF'
import json, sys
try:
    d = json.load(open(sys.argv[1]))
except Exception as e:
    print(f"bench sidecar unreadable: {e}"); sys.exit(1)
bad = []
if d.get("failed"):  bad.append(f"failed={d['failed']}")
if d.get("flagged"): bad.append(f"flagged={d['flagged']}")
if bad:
    print("; ".join(bad)); sys.exit(1)
EOF
}

# Shared runner: one `sbt runMain <main> [args]` with all output in the
# log file $1 (sbt relays the main's stderr there as [error] lines). A
# non-zero exit fails the gate and prints the tail of that stderr.
run_main() {
  local log=$1; shift
  if ! sbt -batch "runMain $*" >"$log" 2>&1; then
    grep '\[error\]' "$log" | tail -20
    echo "FAIL: runMain $1 exited non-zero (log: $log)"; exit 1
  fi
}

echo "== [0/9] baseline freshness"
# The >2x guardrail is meaningless when the committed baseline predates
# the plans it judges (the round-6 q265 lesson): fail unless
# BENCH_BASELINE.json's last commit is at least as new as the last
# commit touching query-defining source. Re-baseline with
#   SPARK_GRAFT_BENCH_RUNS=3 sbt "runMain graft.Bench"   (sf0.1)
# then rebuild BENCH_BASELINE.json from the sidecar's median timings.
SRC_T=$(git log -1 --format=%ct -- src/main/scala/graft)
BASE_T=$(git log -1 --format=%ct -- BENCH_BASELINE.json)
if [ -z "$BASE_T" ] || [ "$BASE_T" -lt "$SRC_T" ]; then
  echo "FAIL: BENCH_BASELINE.json ($BASE_T) is older than the last"
  echo "      src/main/scala/graft commit ($SRC_T) — re-baseline first"
  exit 1
fi
echo "baseline commit >= source commit: OK"

echo "== [1/9] sbt test"
sbt -batch test >/tmp/gate_test.log 2>&1
grep -E "Tests:|All tests passed|TESTS FAILED" /tmp/gate_test.log | tail -3
grep -q "All tests passed" /tmp/gate_test.log || { echo "FAIL: sbt test"; exit 1; }

echo "== [2/9] Smoke sf0.001"
run_main /tmp/gate_smoke_run.log graft.Smoke
grep '\[smoke\]' /tmp/gate_smoke_run.log >/tmp/gate_smoke.log
wc -l </tmp/gate_smoke.log
grep -q '\[smoke\] entry rows=[1-9][0-9]* OK' /tmp/gate_smoke.log \
  || { echo "FAIL: smoke (no '[smoke] entry rows=N OK' line)"; exit 1; }
if grep -qw 'FAIL' /tmp/gate_smoke.log; then
  grep -w 'FAIL' /tmp/gate_smoke.log | head -5; echo "FAIL: smoke"; exit 1
fi

echo "== [3/9] Verify sf0.01 + DuckDB oracle"
rm -rf /tmp/graft_verify
run_main /tmp/gate_verify.log graft.Verify /root/testdata/sf0.01 /tmp/graft_verify
if ! python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_verify \
    >/tmp/gate_oracle.log 2>&1; then
  tail -8 /tmp/gate_oracle.log; echo "FAIL: oracle"; exit 1
fi
tail -2 /tmp/gate_oracle.log
# belt and braces: the summary line must read N/N with EQUAL counts
tail -1 /tmp/gate_oracle.log | grep -qE '^([0-9]+)/\1 OK$' \
  || { echo "FAIL: oracle (partial pass)"; exit 1; }

echo "== [3b/9] Verify sf0.01 under ADVERSE physical-planner settings"
# Plan-shape-independence soak (the r13 numberRows lesson: a correctness
# bug hid behind ReuseExchange + lucky AQE coalescing): identical
# results required under reuse off, no auto-broadcast, 7 shuffle
# partitions, 1m input splits, 64k advisory AQE target.
rm -rf /tmp/graft_adverse
SPARK_GRAFT_ADVERSE=1 run_main /tmp/gate_verify_adverse.log \
  graft.Verify /root/testdata/sf0.01 /tmp/graft_adverse
if ! python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_adverse \
    >/tmp/gate_adverse.log 2>&1; then
  tail -8 /tmp/gate_adverse.log; echo "FAIL: adverse-plan oracle"; exit 1
fi
tail -1 /tmp/gate_adverse.log
tail -1 /tmp/gate_adverse.log | grep -qE '^([0-9]+)/\1 OK$' \
  || { echo "FAIL: adverse-plan oracle (partial pass)"; exit 1; }

echo "== [4/9] PlanAudit -> PLANS_${ROUND}.txt + PLANS_${ROUND}.json"
if ! SPARK_GRAFT_PLANS_JSON="PLANS_${ROUND}.json" \
    sbt -batch "runMain graft.PlanAudit" \
    >/tmp/gate_plan_out.log 2>/tmp/gate_plan_err.log; then
  grep -h '\[plan\].*\(GATE FAIL\|ERROR\)' /tmp/gate_plan_out.log \
    /tmp/gate_plan_err.log | head -5
  grep -h '\[error\]' /tmp/gate_plan_out.log /tmp/gate_plan_err.log | tail -20
  echo "FAIL: plan gate (CartesianProduct / undocumented BNLJ / build error)"
  exit 1
fi
grep '\[plan\]' /tmp/gate_plan_out.log | sed 's/^\[info\] //' >"PLANS_${ROUND}.txt"
if grep -q '\[plan\].*\(GATE FAIL\|ERROR\)' "PLANS_${ROUND}.txt"; then
  echo "FAIL: plan gate (error line in artifact)"; exit 1
fi
wc -l <"PLANS_${ROUND}.txt"
# machine-readable join-shape check: the sidecar must exist and record
# ZERO undocumented BNLJ/CartesianProduct instances under adverse stats
python3 - "PLANS_${ROUND}.json" <<'EOF' || { echo "FAIL: plan sidecar"; exit 1; }
import json, sys
d = json.load(open(sys.argv[1]))
n = d.get("undocumented_total", -1)
errs = [q for q, v in d.get("queries", {}).items() if v.get("error")]
if n != 0 or errs:
    print(f"undocumented_total={n} errors={errs}"); sys.exit(1)
print(f"plan sidecar: {len(d['queries'])} queries, undocumented_total=0")
EOF

echo "== [5/9] Bench sf0.1 (full sweep, auto re-measured flags)"
rm -f BENCH_QUERIES.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  run_main /tmp/gate_bench.log graft.Bench
grep '"metric"' /tmp/gate_bench.log | tail -1
check_bench_json BENCH_QUERIES.json \
  || { echo "FAIL: bench sweep (failed or >2x-flagged queries)"; exit 1; }

echo "== [6/9] Top-15-by-baseline isolated re-bench (fresh JVM)"
TOP15=$(python3 -c "
import json
b = json.load(open('BENCH_BASELINE.json'))
print(','.join(sorted(b, key=b.get, reverse=True)[:15]))")
rm -f BENCH_TOP15_ISOLATED.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_QUERIES="$TOP15" SPARK_GRAFT_BENCH_OUT=BENCH_TOP15_ISOLATED.json \
  run_main /tmp/gate_top15.log graft.Bench
grep '"metric"' /tmp/gate_top15.log | tail -1
check_bench_json BENCH_TOP15_ISOLATED.json \
  || { echo "FAIL: top-15 isolated bench"; exit 1; }

echo "== [7/9] sf1 scaling spot-check (8 vs 32 cores, family representatives)"
# One representative per iterative family (suffix, LSH, graph, selection)
# at 10x the bench SF, 32 vs 8 cores. MEASURED REALITY (r15, SCALE.md
# §scaling-spot-check): at sf1 the per-stage data is still KB-MB across
# 20-60 jobs per query, so wall time is blocking-job-count-bound and the
# med(8c)/med(32c) ratio sits at ~0.9-1.15 — full parallel scaling
# (ratio ≈ 4) is NOT reachable at this SF and is NOT asserted. What the
# step trips on is CATASTROPHIC ANTI-SCALING: a plan whose 32-core run
# is materially SLOWER than its 8-core run (the q75-family inversion the
# round-14 driver measured at 0.35-0.46 — many tiny stages paying 32-way
# scheduling for nothing). Floor 0.7 = the measured noise band's lower
# edge minus margin; recorded ratios land in SCALING_<round>.json.
# EXEMPT: the SQLite single-file family has no representative here on
# purpose. Its scans are filesystem-bound, so extra cores cannot help,
# and its sf0.1 ratios already sit under the floor (q331 0.57, q347
# 0.62, q339 0.68: BENCH_r15_c8.json over BENCH_r15.json).
SF1_DIR=${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}
if [ ! -d "$SF1_DIR" ]; then
  echo "generating $SF1_DIR (ScaleUp 10x of sf0.1)"
  run_main /tmp/gate_scaleup.log graft.ScaleUp /root/testdata/sf0.1 "$SF1_DIR" 10
fi
REPS=q354_suffix_array_dedup,q19_dedup_ngram_jaccard,q96_cc_star,q211_theil_sen
for c in 32 8; do
  rm -f "/tmp/gate_scaling_c${c}.json"
  SPARK_GRAFT_SF_DIR=$SF1_DIR SPARK_GRAFT_CPUS=$c SPARK_GRAFT_QUERIES=$REPS \
    SPARK_GRAFT_BENCH_OUT="/tmp/gate_scaling_c${c}.json" \
    run_main "/tmp/gate_scaling_c${c}.log" graft.Bench
done
python3 - "$ROUND" "$REPS" <<'EOF' || { echo "FAIL: scaling spot-check"; exit 1; }
import json, sys
c32 = json.load(open("/tmp/gate_scaling_c32.json"))["queries"]
c8  = json.load(open("/tmp/gate_scaling_c8.json"))["queries"]
# every representative must have a positive timing on BOTH sides: a
# missing or zero entry is a failed measurement, not a pass
reps = sys.argv[2].split(",")
bad_t = [q for q in reps
         if not (c32.get(q, 0) > 0 and c8.get(q, 0) > 0)]
if bad_t:
    print(f"missing or zero timings: {bad_t}"); sys.exit(1)
out = {q: {"sec_32c": c32[q], "sec_8c": c8[q],
           "ratio_8c_over_32c": round(c8[q] / c32[q], 3)} for q in reps}
json.dump(out, open(f"SCALING_{sys.argv[1]}.json", "w"), indent=1)
bad = {q: v for q, v in out.items() if v["ratio_8c_over_32c"] < 0.7}
for q, v in sorted(out.items()):
    print(f"  {q}: 32c {v['sec_32c']:.2f}s  8c {v['sec_8c']:.2f}s  "
          f"ratio {v['ratio_8c_over_32c']:.2f}")
if bad:
    print(f"ANTI-SCALING (32c materially slower than 8c): {sorted(bad)}")
    sys.exit(1)
EOF

echo "== [8/9] dwh_ingest traced counters (one extraction per landed file)"
# A pass lands 10 batches of 15 files, so 150 is one extraction per file;
# the pipeline's materialization boundary (Documents.pipeline) keeps it
# there. Each poll runs 2 jobs: the parse checkpoint and the batch write,
# which also resolves patients from the broadcast map and numbers the
# small batch in one task. The map is rebuilt by one ipphist scan when a
# re-export changes ipphist's version, once per pass, so a pass's polls
# run 21 jobs (40 with the per-poll window dedup and broadcast join, 70
# with the range numbering too, 80 with the merge's bounds job too). The
# counters are medians over the run's passes.
python3 perfbench/run.py --workload dwh_ingest --seed 1 --seconds 15 \
  --trace 1 2>/tmp/gate_ingest_err.log | tail -1 >/tmp/gate_ingest.json
python3 - /tmp/gate_ingest.json <<'EOF' || { echo "FAIL: dwh_ingest counters"; exit 1; }
import json, sys
try:
    d = json.load(open(sys.argv[1]))
except Exception as e:
    print(f"dwh_ingest result unreadable: {e}"); sys.exit(1)
m = {k: v["value"] for k, v in d["metrics"].items()}
print(f"  failed {d['failed']}/{d['attempted']}  "
      f"sources.extract_docs {m['sources.extract_docs']:.0f}  "
      f"engine.poll_jobs {m['engine.poll_jobs']:.0f}")
bad = []
if d["failed"] > 0: bad.append(f"failed={d['failed']}")
if m["sources.extract_docs"] > 150:
    bad.append(f"sources.extract_docs={m['sources.extract_docs']:.0f} > 150")
if m["engine.poll_jobs"] > 21:
    bad.append(f"engine.poll_jobs={m['engine.poll_jobs']:.0f} > 21")
if bad:
    print("; ".join(bad)); sys.exit(1)
EOF

echo "== [9/9] query_panels traced counters (execute-bound pair operators)"
# q46/q359/q91 are execute-bound; their execute.s and the widest stage's
# task count show whether the pair operators keep their planned
# partitions. q360's construct jobs show that suffixLcpPairs sorts its
# grams once (4 jobs) instead of one numberRows per doubling level (41).
# The counters are medians over the run's passes.
python3 perfbench/run.py --workload query_panels --seed 1 --seconds 15 \
  --trace 1 2>/tmp/gate_panels_err.log | tail -1 >/tmp/gate_panels.json
python3 - /tmp/gate_panels.json <<'EOF' || { echo "FAIL: query_panels counters"; exit 1; }
import json, sys
try:
    d = json.load(open(sys.argv[1]))
except Exception as e:
    print(f"query_panels result unreadable: {e}"); sys.exit(1)
m = {k: v["value"] for k, v in d["metrics"].items()}
print(f"  failed {d['failed']}/{d['attempted']}  "
      f"execute.s {m['execute.s']:.2f}  "
      f"execute.max_tasks_per_stage {m['execute.max_tasks_per_stage']:.0f}")
for q in ("q360_suffix_lcp", "q46_fuzzy_pairs", "q359_gram_hash_dedup",
          "q91_knn_join"):
    print(f"  {q}.execute.s {m[q + '.execute.s']:.2f}")
q360_jobs = m["q360_suffix_lcp.construct.jobs"]
print(f"  q360_suffix_lcp.construct.jobs {q360_jobs:.0f}")
bad = []
if d["failed"] > 0:
    bad.append(f"failed={d['failed']} (golden-hash mismatch or error)")
if q360_jobs > 8:
    bad.append(f"q360_suffix_lcp.construct.jobs={q360_jobs:.0f} > 8")
if bad:
    print("; ".join(bad)); sys.exit(1)
EOF

echo "== gate complete for ${ROUND}"
