#!/bin/bash
# Cold-JVM A/B of graft.Bench: fork one fresh Bench JVM per arm per pair,
# alternating which arm runs first, keep every JSON under target/ab/, then
# print per query each arm's median and quartiles over the pairs and how
# many pairs each arm won.
#
# Usage: scripts/ab_bench.sh <pairs> <nameA> <classesA> <optsA> \
#                                    <nameB> <classesB> <optsB>
#   classes*  a compiled classes directory (e.g. a parent commit's build)
#   opts*     JVM options for that arm, passed as JAVA_TOOL_OPTIONS ("" = none)
# Env passes through: SPARK_GRAFT_BENCH_ONLY picks the queries,
# SPARK_GRAFT_CPUS the core count, SPARK_GRAFT_SF_DIR the fixtures.
# Example (a parent commit's build against this checkout's):
#   SPARK_GRAFT_CPUS=4 SPARK_GRAFT_BENCH_ONLY=q95,q98 scripts/ab_bench.sh 10 \
#     base ../base/target/scala-2.13/classes "" head target/scala-2.13/classes ""
set -e
[ $# -eq 7 ] || { sed -n '2,15p' "$0"; exit 2; }
PAIRS="$1"; NAMES=("$2" "$5"); CLASSES=("$3" "$6"); OPTS=("$4" "$7")
HERE="$(cd "$(dirname "$0")" && pwd)"
OUT="$HERE/../target/ab"
mkdir -p "$OUT"

run_arm() { # <arm index> <pair>
  local a="$1" json="$OUT/${NAMES[$1]}_$2.json"
  echo "[ab] pair $2: ${NAMES[$a]}" >&2
  rm -f "$json" # a failed run must not leave an earlier run's JSON to be counted
  GRAFT_CLASSES="${CLASSES[$a]}" JAVA_TOOL_OPTIONS="${OPTS[$a]}" \
    SPARK_GRAFT_BENCH_OUT="$json" "$HERE/jrun.sh" graft.Bench >/dev/null 2>&1 ||
    echo "[ab] pair $2: ${NAMES[$a]} exited non-zero" >&2
}

for ((i = 1; i <= PAIRS; i++)); do
  if ((i % 2)); then run_arm 0 "$i"; run_arm 1 "$i"
  else run_arm 1 "$i"; run_arm 0 "$i"; fi
done

python3 - "$OUT" "$PAIRS" "${NAMES[0]}" "${NAMES[1]}" <<'EOF'
import json, os, statistics, sys
out, pairs, a, b = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]

def load(arm, i):
    p = os.path.join(out, f"{arm}_{i}.json")
    return json.load(open(p))["queries"] if os.path.exists(p) else {}

runs = {arm: [load(arm, i) for i in range(1, pairs + 1)] for arm in (a, b)}
names = sorted({q for arm in runs.values() for r in arm for q in r})

def quart(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"{'query':28} {'arm':>8} {'median':>8} {'q1':>8} {'q3':>8} {'iqr':>8} {'wins':>7}")
for q in names:
    pairs_ok = [(ra[q], rb[q]) for ra, rb in zip(runs[a], runs[b])
                if ra.get(q, -1) >= 0 and rb.get(q, -1) >= 0]
    wins = {a: sum(x < y for x, y in pairs_ok), b: sum(y < x for x, y in pairs_ok)}
    for arm in (a, b):
        xs = [r[q] for r in runs[arm] if r.get(q, -1) >= 0]
        q1, med, q3 = quart(xs)
        print(f"{q:28} {arm:>8} {med:8.3f} {q1:8.3f} {q3:8.3f} {q3 - q1:8.3f}"
              f" {wins[arm]:>3}/{len(pairs_ok)}")
EOF
