#!/usr/bin/env bash
# One-command perfbench A/B: a parent revision against this working tree.
#
#   tools/perfab.sh <parent-rev> <workload> <pairs> <first-seed>
#
# Extracts <parent-rev>'s committed files into a temporary directory (under
# $TMPDIR, default /tmp; `git archive`, so the repository gains no worktree
# record) and runs <pairs> pairs of `perfbench/run.py --trace 0` on both
# sides, pair i on seed <first-seed>+i, alternating which side runs first.
# Each side builds its own perfbench on its first run. Run length is
# BENCHMARK.json's `run_seconds`, the same on both sides.
#
# Prints one line per run (side, seed, correct, failed, every end-to-end
# metric), then per metric: each side's median and Q1–Q3, how many pairs
# the change won (ties count for neither) and whether the gain rule holds
# (wins >= 9/10 of pairs and median gap > the parent's Q3-Q1). The
# temporary directory is removed at exit. Never run two at once, or beside
# another Spark JVM: the runs measure CPU time on a shared machine.
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <pairs> <first-seed>" >&2
  exit 2
fi
rev=$1 workload=$2 pairs=$3 seed0=$4
root=$(git rev-parse --show-toplevel)
# a short name: sbt's boot socket lives under the parent's perfbench build
# dir, and a unix socket path must fit in 108 bytes
tmp=$(mktemp -d "${TMPDIR:-/tmp}/pab.XXXXXX")
trap 'rm -rf "$tmp"' EXIT

mkdir "$tmp/parent"
git -C "$root" archive "$rev" | tar -x -C "$tmp/parent"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")
runs="$tmp/runs.jsonl"

run() { # <side> <dir> <seed>
  local out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
          --seconds "$seconds" --trace 0 2>"$tmp/stderr" | tail -n 1) || true
  [ -n "$out" ] || tail -n 5 "$tmp/stderr" >&2
  python3 - "$1" "$3" "$out" >>"$runs" <<'EOF'
import json, sys
side, seed, line = sys.argv[1], int(sys.argv[2]), sys.argv[3]
try:
    rec = json.loads(line)
except ValueError:  # run.py died before printing a result
    rec = {"correct": False, "attempted": 0, "failed": None, "metrics": {}}
rec.update(side=side, seed=seed)
print(json.dumps(rec))
EOF
  tail -n 1 "$runs"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$tmp/parent" "$seed"; run change "$root" "$seed"
  else
    run change "$root" "$seed"; run parent "$tmp/parent" "$seed"
  fi
done

python3 - "$runs" "$root/BENCHMARK.json" "$rev" "$workload" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))
print(f"\n{sys.argv[4]}: {sys.argv[3]} (parent) vs working tree (change), {len(runs) // 2} pairs")
for r in runs:
    ms = " ".join(f"{k}={v['value']:.3f}" for k, v in r["metrics"].items())
    print(f"  {r['side']:6} seed={r['seed']} correct={r['correct']} failed={r['failed']} {ms}")

def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return med, q1, q3

for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    by = {}
    for r in runs:
        if r["correct"] and name in r["metrics"]:
            by.setdefault(r["seed"], {})[r["side"]] = r["metrics"][name]["value"]
    pairs = [p for p in by.values() if len(p) == 2]
    if not pairs:
        print(f"{name}: no complete pairs")
        continue
    par, chg = [p["parent"] for p in pairs], [p["change"] for p in pairs]
    (pm, p1, p3), (cm, c1, c3) = quartiles(par), quartiles(chg)
    wins = sum((p["change"] < p["parent"]) if lower else (p["change"] > p["parent"]) for p in pairs)
    gain = wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1 and (cm < pm) == lower
    print(f"{name} ({m['unit']}): parent {pm:.3f} [{p1:.3f}-{p3:.3f}]  change {cm:.3f} "
          f"[{c1:.3f}-{c3:.3f}]  change/parent {cm / pm:.3f}  change wins {wins}/{len(pairs)}  "
          f"gain rule {'holds' if gain else 'not met'}")
EOF
