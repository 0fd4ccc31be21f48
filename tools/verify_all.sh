#!/usr/bin/env bash
# Full verification: pytest suite, the npm benchmark's own tests, a
# vanilla-session run of every query, DuckDB oracle parity at sf0.01, and
# the bench JSON line.
# This is the pre-snapshot guard: run it before any end-of-round commit —
# round 2 shipped a red suite because this script skipped pytest.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 0/4 pytest (FULL suite incl. slow tier; oracle parity for every query at sf0.001) =="
# a bare `pytest tests/` skips the slow codec/fuzz tier; verify_all runs ALL
SPARK_GRAFT_RUN_SLOW=1 python -m pytest tests/ -x -q

echo "== 0b/4 benchmark tests (generator determinism, oracle vs fixtures, transcript replay) =="
python -m pytest perfbench/tests -q -p no:cacheprovider

echo "== 1/4 driver simulation (vanilla session, all queries) =="
python - <<'EOF'
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
print("entry rows:", len(e.entry(spark).collect()))
qs = e.queries()
bad = []
for name, fn in sorted(qs.items()):
    try:
        fn(spark, "/root/testdata/sf0.01").count()
    except Exception as ex:
        bad.append((name, str(ex)[:200]))
print(f"{len(qs)} queries ran; failures: {bad if bad else 'none'}")
assert not bad
EOF

echo "== 2/4 oracle parity (sf0.01) =="
python tools/oracle_check.py /root/testdata/sf0.01 | tail -1

echo "== 3/4 bench =="
# keep the last COMMITTED full artifact for the regression gate below
# (bench.py overwrites BENCH_FULL.json in place)
git show HEAD:BENCH_FULL.json > /tmp/bench_full_prev.json 2>/dev/null || true
python bench.py 2>/dev/null | tail -1 | python -c "import json,sys; d=json.load(sys.stdin); print('bench ok:', d['value'], d['unit'], len(d['queries']), 'queries')"

echo "== 3b/4 bench regression gate (vs last committed BENCH_FULL) =="
# round-8 verdict #3: FAIL on a confirmed regression — normalized median
# >1.5x slower AND outside the old sample band. Calibration-normalized,
# so a uniformly slow session cannot trip it. The calibration is a pure
# CPU workload, so FS/JVM ambient drift can still throw single-run
# flags on untouched queries (measured: two back-to-back r9 runs each
# flagged 2-3 DIFFERENT untouched queries, intersection empty) — a flag
# therefore only fails the gate when an independent second bench run
# reproduces it. Skipped when HEAD has no BENCH_FULL.json.
if [[ -s /tmp/bench_full_prev.json ]]; then
  # --drift-since anchors a cumulative-drift line against the OLDEST
  # calibration-bearing artifact (round-9 verdict #6): sub-1.5x creep
  # per round compounds invisibly without it
  if ! python tools/bench_compare.py /tmp/bench_full_prev.json BENCH_FULL.json \
        --drift-since BENCH_r08.json \
        --fail-on-regression --json-flags /tmp/bench_flags1.json | tail -8; then
    echo "-- first run flagged; re-benching to confirm (noise discriminator) --"
    python bench.py 2>/dev/null | tail -1 > /dev/null
    python tools/bench_compare.py /tmp/bench_full_prev.json BENCH_FULL.json \
        --fail-on-regression --json-flags /tmp/bench_flags2.json | tail -6 || true
    python - <<'PYEOF'
import json
a = set(json.load(open("/tmp/bench_flags1.json"))["regressed"])
b = set(json.load(open("/tmp/bench_flags2.json"))["regressed"])
inter = sorted(a & b)
if inter:
    raise SystemExit(f"REGRESSION GATE: reproduced by both independent runs: {inter}")
print(f"regression gate: flags did not reproduce across runs "
      f"(run1 {sorted(a)} vs run2 {sorted(b)}) — adjudicated session noise")
PYEOF
  fi
else
  echo "no committed BENCH_FULL.json to compare against; gate skipped"
fi

# Optional density sweep: SF01_SWEEP=1 re-checks every query at sf0.1
# (two real bugs only ever appeared at that density), skipping the
# LSH-family queries whose DuckDB oracles are prohibitively slow there
# (they are covered at sf0.01 above).
if [[ "${SF01_SWEEP:-0}" == "1" ]]; then
  echo "== 4/4 sf0.1 density sweep (all queries minus slow LSH oracles) =="
  python - <<'PYEOF'
import subprocess, sys
import __spark_entry__ as e
slow = {"minhash_lsh_neardup", "chargram_jaccard_pairs", "simhash_candidate_pairs",
        "fuzzy_dedup_keep_one", "neardup_clusters", "dedup_incremental",
        "corpus_pipeline_verdicts", "semdedup_keep_one"}
names = [q for q in e.queries() if q not in slow]
r = subprocess.run([sys.executable, "tools/oracle_check.py", "/root/testdata/sf0.1", *names])
sys.exit(r.returncode)
PYEOF
fi
