#!/usr/bin/env bash
# Paired A/B of two checkouts on one perfbench workload.
#
#   tools/benchpairs.sh PARENT_DIR CHANGE_DIR WORKLOAD PAIRS [FIRST_SEED] [SECONDS]
#
# Runs PAIRS pairs of `python3 perfbench/run.py --trace 0`, one run in each
# checkout per pair, on seeds FIRST_SEED (default 1) upward, SECONDS
# (default 10) per run. The order within a pair alternates (parent first on
# even pairs, change first on odd ones), so host drift does not favour one
# side. Each run's last two stdout lines (the env line and the result line)
# go to $OUT (default: a new temporary directory) as
# <side>_<seed>.jsonl; a run whose harness fails leaves what it printed.
#
# Then it prints, per side and end-to-end metric, the median and the
# quartiles over the pairs; per metric, the pairs the change wins (by the
# metric's direction in BENCHMARK.json) and whether the medians differ by
# more than the parent's interquartile range; per side, the runs that were
# not correct, the failed ops and `cpu_steal_pct` (median and max).
# Only `--seconds` and the seed vary; every other flag is perfbench's
# default. Re-summarise an existing $OUT with `SUMMARY_ONLY=1`.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,20p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
pairs=$4
first=${5:-1}
seconds=${6:-10}
out=${OUT:-$(mktemp -d -t benchpairs.XXXXXX)}
mkdir -p "$out"

run_one() {  # side dir seed
  local log="$out/$1_$3.jsonl"
  echo "[benchpairs] $1 seed $3" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
      --seconds "$seconds" --trace 0 2>"$out/$1_$3.stderr" | tail -n 2) \
    > "$log" || true
}

if [ "${SUMMARY_ONLY:-0}" != 1 ]; then
  for ((i = 0; i < pairs; i++)); do
    seed=$((first + i))
    if ((i % 2 == 0)); then
      run_one parent "$parent" "$seed"; run_one change "$change" "$seed"
    else
      run_one change "$change" "$seed"; run_one parent "$parent" "$seed"
    fi
  done
fi

python3 - "$out" "$change/BENCHMARK.json" "$first" "$pairs" "$workload" <<'EOF'
import json, os, statistics, sys

out, bench, first, pairs, workload = (sys.argv[1], sys.argv[2],
                                     int(sys.argv[3]), int(sys.argv[4]), sys.argv[5])
better = {m["name"]: m["better"] for m in json.load(open(bench))["end_to_end"]}

def load(side, seed):
    env, res = None, None
    path = os.path.join(out, f"{side}_{seed}.jsonl")
    if os.path.exists(path):
        for line in open(path):
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if "env" in d:
                env = d["env"]
            elif "metrics" in d:
                res = d
    return env, res

def quartiles(v):
    if len(v) < 2:
        return (v[0], v[0], v[0]) if v else (float("nan"),) * 3
    q = statistics.quantiles(v, n=4, method="inclusive")
    return q[0], statistics.median(v), q[2]

seeds = range(first, first + pairs)
runs = {s: {side: load(side, s) for side in ("parent", "change")} for s in seeds}
print(f"{workload} pairs: {pairs} (seeds {first}-{first + pairs - 1}), logs in {out}")
for side in ("parent", "change"):
    envs = [runs[s][side][0] for s in seeds if runs[s][side][0]]
    res = [runs[s][side][1] for s in seeds]
    steal = [e["phases"]["cpu_steal_pct"] for e in envs]
    bad = sum(1 for r in res if not r or not r["correct"])
    failed = sum(r["failed"] for r in res if r)
    st = (f"median {statistics.median(steal):.2f} max {max(steal):.2f}"
          if steal else "n/a")
    print(f"{side:>6}: {bad} runs not correct, {failed} failed ops, "
          f"cpu_steal_pct {st}")
print(f"{'metric':<12} {'side':>6} {'q1':>9} {'median':>9} {'q3':>9}")
for m, way in better.items():
    vals = {side: [runs[s][side][1]["metrics"][m]["value"] for s in seeds
                   if runs[s][side][1] and runs[s][side][1]["correct"]]
            for side in ("parent", "change")}
    for side in ("parent", "change"):
        q1, med, q3 = quartiles(vals[side])
        print(f"{m:<12} {side:>6} {q1:>9.3f} {med:>9.3f} {q3:>9.3f}")
    both = [(runs[s]["parent"][1]["metrics"][m]["value"],
             runs[s]["change"][1]["metrics"][m]["value"]) for s in seeds
            if all(runs[s][k][1] and runs[s][k][1]["correct"]
                   for k in ("parent", "change"))]
    wins = sum(1 for p, c in both if (c < p if way == "lower" else c > p))
    pq1, pmed, pq3 = quartiles(vals["parent"])
    cmed = quartiles(vals["change"])[1]
    gain = (pmed - cmed) if way == "lower" else (cmed - pmed)
    print(f"{m:<12} change wins {wins}/{len(both)} pairs; median "
          f"{100 * (cmed - pmed) / pmed:+.1f}% ({way} is better); "
          f"gain {gain:+.3f} vs parent IQR {pq3 - pq1:.3f}: "
          f"{'resolved' if gain > pq3 - pq1 else 'not resolved'}")
EOF
