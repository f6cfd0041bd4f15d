#!/usr/bin/env bash
# Same-host A/B of the perfbench end-to-end metrics: a base revision
# against the working tree, in alternating pairs.
#
#   scripts/ab_perfbench.sh BASE WORKLOAD [PAIRS=10] [FIRST_SEED]
#   scripts/ab_perfbench.sh --summarize RESULTS
#
# Both sides run from fresh temporary directories, removed on exit:
# BASE's committed files (git archive) and a snapshot of the working
# tree taken at the start (its tracked and untracked files that git does
# not ignore), so neither side inherits a `.bench_build/` and later
# edits to the checkout do not reach the run. Pair i runs `python3
# perfbench/run.py --workload WORKLOAD --seed FIRST_SEED+i --seconds
# <run_seconds of BENCHMARK.json> --trace 0` once in each directory,
# base first on even pairs and the change first on odd ones.
# FIRST_SEED defaults to a clock-derived value, so each call draws
# fresh seeds. Every run's result line is kept in a results file (its
# path is printed) as `<base|change> <pair> <seed> <result json>`, or
# `null` for a run that printed no result; their stderr goes to
# RESULTS.log.
#
# The summary gives, for every end-to-end metric of BENCHMARK.json, each
# side's median and quartiles, the pairs the change won (ties count for
# neither side, a failed run loses its pair), the median's change
# against the base with the metric's bound, and whether a gain may be
# claimed: wins in at least nine tenths of all pairs run, and a median
# gap in the better direction wider than the base's interquartile range.
# `--summarize` prints it for a results file without running anything.
set -euo pipefail
cd "$(dirname "$0")/.."
REPO="$(pwd)"

summarize() {
  python3 - "$REPO/BENCHMARK.json" "$1" <<'PY'
import json, math, statistics, sys

bench = json.load(open(sys.argv[1]))
runs = {}  # (side, pair) -> metrics dict or None
for line in open(sys.argv[2]):
    line = line.strip()
    if not line:
        continue
    side, pair, _seed, payload = line.split(" ", 3)
    res = json.loads(payload)
    runs[(side, int(pair))] = {k: v["value"] for k, v in res["metrics"].items()} if res else None
pairs = sorted({p for _, p in runs})
n = len(pairs)
need = math.ceil(0.9 * n)

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (math.nan, math.nan)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

print(f"pairs run: {n}; a gain needs >= {need} wins and a median gap above the base IQR")
print(f"{'metric':<12} {'base median [q1, q3]':<28} {'change median [q1, q3]':<28} "
      f"{'wins':>6} {'delta':>8} {'bound':>12} gain")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    side = {s: [r[name] for (k, _), r in runs.items() if k == s and r and name in r]
            for s in ("base", "change")}
    if not side["base"] or not side["change"]:
        print(f"{name:<12} no successful runs on one side")
        continue
    wins = 0
    for p in pairs:
        b, c = runs.get(("base", p)), runs.get(("change", p))
        if b and c and name in b and name in c and c[name] != b[name]:
            wins += (c[name] < b[name]) == lower
    bm, cm = statistics.median(side["base"]), statistics.median(side["change"])
    (b1, b3), (c1, c3) = quartiles(side["base"]), quartiles(side["change"])
    gap = (bm - cm) if lower else (cm - bm)  # > 0: the change is better
    worse = -gap / abs(bm) if bm else 0.0
    bound = f"{'WORSE' if worse > m['bound'] else 'ok'} ({m['bound']:.0%})"
    gain = "holds" if wins >= need and gap > (b3 - b1) else "no"
    delta = (cm - bm) / abs(bm) if bm else 0.0
    print(f"{name:<12} {f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':<28} {f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':<28} "
          f"{f'{wins}/{n}':>6} {delta:>+8.1%} {bound:>12} {gain}")
PY
}

if [[ "${1:-}" == "--summarize" ]]; then
  [[ $# -eq 2 ]] || { echo "usage: $0 --summarize RESULTS" >&2; exit 2; }
  summarize "$2"
  exit 0
fi

[[ $# -ge 2 && $# -le 4 ]] || {
  echo "usage: $0 BASE WORKLOAD [PAIRS=10] [FIRST_SEED]" >&2
  echo "       $0 --summarize RESULTS" >&2
  exit 2
}
BASE="$1" WORKLOAD="$2" PAIRS="${3:-10}" FIRST_SEED="${4:-$(( $(date +%s) % 100000 ))}"
git rev-parse --verify --quiet "$BASE^{commit}" >/dev/null || {
  echo "FATAL: unknown base revision '$BASE'" >&2
  exit 1
}
SECONDS_PER_RUN="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"

BASE_DIR="$(mktemp -d /tmp/ab_perfbench.XXXXXX)"
CHANGE_DIR="$(mktemp -d /tmp/ab_perfbench.XXXXXX)"
trap 'rm -rf "$BASE_DIR" "$CHANGE_DIR"' EXIT
git archive "$BASE" | tar -x -C "$BASE_DIR"
# the working tree as it stands, minus ignored files; a tracked file
# deleted in the working tree is left out
git ls-files -z --cached --others --exclude-standard --deduplicate |
  python3 -c 'import os, sys; sys.stdout.write("".join(
    f + "\0" for f in sys.stdin.read().split("\0") if f and os.path.isfile(f)))' |
  tar --null -T - -c | tar -x -C "$CHANGE_DIR"
RESULTS="$(mktemp /tmp/ab_perfbench_results.XXXXXX)"

run_side() { # side pair seed
  local dir=$CHANGE_DIR line
  [[ "$1" == base ]] && dir=$BASE_DIR
  line="$(cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace 0 2>>"$RESULTS.log" | tail -1)" || line=""
  [[ "$line" == "{"* ]] || line=null
  echo "$1 $2 $3 $line" >> "$RESULTS"
  echo "[ab] pair $2 seed $3 $1: $(cut -c1-120 <<<"$line")" >&2
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((FIRST_SEED + i))
  if ((i % 2 == 0)); then
    run_side base "$i" "$seed"; run_side change "$i" "$seed"
  else
    run_side change "$i" "$seed"; run_side base "$i" "$seed"
  fi
done

echo "results: $RESULTS ($WORKLOAD, base $(git rev-parse --short "$BASE") vs working tree, seeds $FIRST_SEED..$((FIRST_SEED + PAIRS - 1)))"
summarize "$RESULTS"
