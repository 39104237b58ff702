#!/bin/bash
# Paired ABAB adjudication (round-15 method, kept for round 16): run the
# SAME query subset alternately from the HEAD worktree (A) and the working
# tree (B), twice each in order-balanced pairs (A1 B1, then B2 A2: even
# rounds swap the order, so neither side always runs first on a warmer
# box), and take the per-query MIN per side.
# Subset timings are not comparable to full-sweep numbers (less warm-up
# context), but A and B inside one ABAB block see the same box, so the
# ratio is decision-grade. Usage:
#   dev/abab.sh <tag> <comma-separated-query-names> [headDir]
set -euo pipefail
TAG="$1"; QUERIES="$2"; HEAD_DIR="${3:-/tmp/graft_head}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_ONLY="$QUERIES"
for round in 1 2; do
  order=$([ $((round % 2)) -eq 0 ] && echo "B A" || echo "A B")
  for side in $order; do
    dir=$([ "$side" = A ] && echo "$HEAD_DIR" || echo /root/repo)
    log="/tmp/abab.$TAG.$side$round.log"
    echo "[abab] $side$round in $dir -> $log"
    (cd "$dir" && sbt -batch "runMain graft.Bench" > "$log" 2>&1)
  done
done
python3 - "$TAG" <<'EOF'
import json, sys
tag = sys.argv[1]
def load(side):
    best = {}
    for r in (1, 2):
        txt = open(f"/tmp/abab.{tag}.{side}{r}.log").read()
        line = [l for l in txt.splitlines() if l.strip().startswith('{"metric"')][-1]
        qs = json.loads(line[line.index('{'):])["queries"]
        for k, v in qs.items():
            best[k] = min(best.get(k, 1e9), v)
    return best
a, b = load("A"), load("B")
ta = tb = 0.0
print(f"{'query':34s} {'HEAD':>8s} {'work':>8s}  ratio")
for k in sorted(a):
    ta += a[k]; tb += b[k]
    print(f"{k:34s} {a[k]:8.2f} {b[k]:8.2f}  {b[k]/a[k]:5.2f}x")
print(f"{'TOTAL':34s} {ta:8.2f} {tb:8.2f}  {tb/ta:5.2f}x")
EOF
