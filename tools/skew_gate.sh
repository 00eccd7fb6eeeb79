#!/bin/bash
# Planted-hot-key skew gate (SURVEY §7.4.7 risk, round-7 proof made
# durable): ScaleUp hotPct=10 plants ONE user absorbing 10% of ALL events
# (~1100x the median user at 10x sf0.1), then the report paths that group
# or window on user_id must (a) stay BITWISE correct — the DuckDB oracle
# replays on the same hot fixture — and (b) not fall off a cliff vs the
# uniform sf1 twin (map-side partial aggregation collapses the hot key to
# ~one row per map task before any shuffle; round-7 measured ≤~1.4x
# boot-corrected on every path).
#
# Usage: tools/skew_gate.sh [sf1hotdir] [sf1dir]
#   regenerates either fixture with graft.tools.ScaleUp if missing.
# Output: the oracle verdict per query, then a per-query hot/uniform
# timing table with control probes for boot correction.
set -e
cd "$(dirname "$0")/.."
HOT=${1:-/root/repo/localdata/sf1hot}
UNI=${2:-/root/repo/localdata/sf1}
# q52_khop: the graph-loop row — ScaleUp hotPct also plants a hot PART
# (a co-purchase hub co-bought with ~every other part), stressing the
# staged-edge BFS join/aggregation on a hot node key
QUERIES="q1_trans_summary,q6_wma,q9_ranking,r1_trans_5min,x31_salted_agg,q52_khop"

if [ ! -e "$HOT/events.parquet" ]; then
  echo "== regenerating $HOT (ScaleUp 10x, hotPct=10) =="
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 $HOT 10 10"
fi
if [ ! -e "$UNI/events.parquet" ]; then
  echo "== regenerating $UNI (ScaleUp 10x, uniform) =="
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 $UNI 10"
fi

echo "== correctness under skew: oracle replay on the hot fixture =="
SPARK_GRAFT_ONLY="$QUERIES" SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} \
  python3 tools/check.py "$HOT" /tmp/graft_verify_sf1hot --exact --only="$QUERIES"

echo "== skew slope: hot vs uniform (boot-correct with the controls) =="
run_bench() { # $1 = sf dir, $2 = artifact path
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_BENCH_OUT="$2" \
  SPARK_GRAFT_ONLY="$QUERIES" \
  SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
}
run_bench "$UNI" /tmp/skew_bench_uniform.json
run_bench "$HOT" /tmp/skew_bench_hot.json
python3 - <<'EOF'
import json
u = json.load(open('/tmp/skew_bench_uniform.json'))
h = json.load(open('/tmp/skew_bench_hot.json'))
noise = h['control_sec'] / u['control_sec'] if u['control_sec'] else 1.0
print(f"controls: uniform {u['control_sec']:.3f}s hot {h['control_sec']:.3f}s (noise x{noise:.2f})")
worst = 0.0
for q in sorted(u['queries']):
    a, b = u['queries'][q], h['queries'][q]
    if a <= 0 or b <= 0:
        print(f"{q}: FAILED (uniform {a}, hot {b})"); worst = 99; continue
    corr = b / a / noise
    worst = max(worst, corr)
    print(f"{q}: uniform {a:.2f}s hot {b:.2f}s ratio {b/a:.2f} boot-corrected {corr:.2f}")
ok = worst <= 2.0
print(f"== skew gate {'PASS' if ok else 'FAIL'} (worst boot-corrected {worst:.2f}, bound 2.0) ==")
raise SystemExit(0 if ok else 1)
EOF
