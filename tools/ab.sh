#!/usr/bin/env bash
# Interleaved A/B of the benchmark: a base revision against the working tree.
#
#   tools/ab.sh <rev> <workload> <seed...>
#   tools/ab.sh HEAD~1 crawl-deep 21 22 23
#
# <rev> is exported (git archive) into $AB_DIR/base. The working tree is
# exported into $AB_DIR/head: tracked files with their uncommitted edits,
# plus untracked files that are not ignored; tracked files deleted in the
# working tree are left out. Both sides thus run from a clean export, never
# from the checkout with its build outputs. Each side builds into its own
# CARGO_TARGET_DIR ($AB_DIR/base-build, $AB_DIR/head-build), so neither
# recompiles the other's classes and each keeps its own history fixtures.
# Per seed, both sides run `perfbench/run.py --trace 0` once, one after the
# other; the side that goes first alternates from seed to seed, so slow
# drift of a shared host does not favour either side.
#
# Prints one line per invocation and, at the end, per metric: each side's
# quartiles, the base IQR as a share of the base median, how many pairs the
# head won (by the metric's `better` in BENCHMARK.json), the median change,
# whether the head median is worse than the base median by more than the
# metric's `bound`, and "unresolved" when the base IQR is wider than the
# bound. An invocation's `attempted` is the number of crawls it ran in its
# run_seconds; the summary prints how many invocations per side ran each
# crawl count and, per metric, each side's median within each count, and
# marks a metric "bimodal" when the two sides ran different mixes of
# counts (a warm second crawl moves urls_per_s and heap_live_mb on its
# own). Every invocation runs for BENCHMARK.json's run_seconds. Work
# directory: $AB_DIR (default ${TMPDIR:-/tmp}/graft-ab), reused, so
# unchanged builds and fixtures are not redone.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,30p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
rev=$1; workload=$2; shift 2
repo=$(git rev-parse --show-toplevel)
ab=${AB_DIR:-${TMPDIR:-/tmp}/graft-ab}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")
results=$ab/results.jsonl

mkdir -p "$ab"
rm -rf "$ab/base"
mkdir "$ab/base"
git -C "$repo" archive "$(git -C "$repo" rev-parse --verify "$rev^{commit}")" | tar -x -C "$ab/base"
rm -rf "$ab/head"
mkdir "$ab/head"
git -C "$repo" ls-files -z --cached --others --exclude-standard \
  | (cd "$repo" && while IFS= read -r -d '' f; do
       if [ -e "$f" ] || [ -L "$f" ]; then printf '%s\0' "$f"; fi
     done) \
  | tar -C "$repo" --null -T - -cf - | tar -x -C "$ab/head"
: > "$results"

# run_side <side> <seed>: one invocation; prints its line, records its result
run_side() {
  local side=$1 seed=$2 last log=$ab/$1-seed$2.log
  : > "$log"
  if ! last=$(cd "$ab/$side" && CARGO_TARGET_DIR=$ab/$side-build \
      python3 perfbench/run.py --workload "$workload" --seed "$seed" \
        --seconds "$seconds" --trace 0 2>>"$log" | tee -a "$log" | tail -n 1); then
    echo "seed=$seed side=$side: run failed, see $log" >&2
    exit 1
  fi
  python3 - "$side" "$seed" "$last" "$results" <<'PY'
import json, sys
side, seed, line, results = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
r = json.loads(line)
r["metrics"] = {k: v["value"] for k, v in r["metrics"].items()}
r.update(side=side, seed=seed)
with open(results, "a") as f:
    f.write(json.dumps(r) + "\n")
m = " ".join(f"{k}={v:.2f}" for k, v in sorted(r["metrics"].items()))
print(f"seed={seed} side={side} {m} failed={r['failed']}/{r['attempted']}")
PY
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="base head"; else order="head base"; fi
  for side in $order; do run_side "$side" "$seed"; done
  i=$((i + 1))
done

python3 - "$results" "$rev" "$workload" "$repo/BENCHMARK.json" <<'PY'
import json, statistics, sys
from collections import Counter
rows = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[4]))
spec = {m["name"]: m for m in bench["end_to_end"] + bench.get("per_layer", [])}
print(f"{sys.argv[3]}: base={sys.argv[2]} vs head=working tree, {len(rows) // 2} pair(s)")
# crawl-count modes: an invocation's `attempted` is how many crawls it ran
modes = {s: Counter(r["attempted"] for r in rows if r["side"] == s) for s in ("base", "head")}
for s in ("base", "head"):
    print(f"  {s} crawls per invocation: " +
          ", ".join(f"{n} ran {m}" for m, n in sorted(modes[s].items())))
bimodal = modes["base"] != modes["head"]

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

for k in sorted(rows[0]["metrics"]):
    side = {s: {r["seed"]: r["metrics"][k] for r in rows if r["side"] == s}
            for s in ("base", "head")}
    (bq1, bmed, bq3), (hq1, hmed, hq3) = (quartiles(list(side[s].values()))
                                          for s in ("base", "head"))
    m = spec.get(k, {})
    better, bound = m.get("better"), m.get("bound")
    line = (f"  {k}: base q1/med/q3 {bq1:.2f}/{bmed:.2f}/{bq3:.2f}, "
            f"head {hq1:.2f}/{hmed:.2f}/{hq3:.2f}")
    iqr = (bq3 - bq1) / abs(bmed) if bmed else float("nan")
    rel = (hmed / bmed - 1) if bmed else float("nan")
    line += f"; base IQR {iqr * 100:.1f}% of median; median {rel * 100:+.1f}%"
    if better in ("higher", "lower"):
        sign = 1 if better == "higher" else -1
        pairs = [sd for sd in side["base"] if sd in side["head"]]
        won = sum(1 for sd in pairs if sign * (side["head"][sd] - side["base"][sd]) > 0)
        line += f"; head won {won}/{len(pairs)} pairs ({better} is better)"
        if bound is not None:
            worse = -sign * rel > bound
            line += (f"; {'WORSE than' if worse else 'within'} bound {bound * 100:.0f}%")
            if iqr > bound:
                line += "; unresolved (base IQR wider than bound)"
    if bimodal:
        line += "; bimodal (the sides ran different crawl-count mixes)"
    print(line)
    per_mode = []
    for m in sorted(set(modes["base"]) | set(modes["head"])):
        meds = [[r["metrics"][k] for r in rows if r["side"] == s and r["attempted"] == m]
                for s in ("base", "head")]
        per_mode.append(f"{m} crawl(s) base " + " head ".join(
            f"{statistics.median(xs):.2f} (n={len(xs)})" if xs else "- (n=0)" for xs in meds))
    print("    median per crawl count: " + "; ".join(per_mode))
for s in ("base", "head"):
    print(f"  {s} failed/attempted: {sum(r['failed'] for r in rows if r['side'] == s)}"
          f"/{sum(r['attempted'] for r in rows if r['side'] == s)}")
PY
