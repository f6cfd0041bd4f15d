#!/usr/bin/env bash
# Self-test for the CHANGES gate: in a scratch copy the gate must exit
# non-zero without CHANGES.md, with an empty one and with one ending in
# a dangling promise, and zero with a finished entry. It also runs the
# LoC report (scripts/loc.sh) once on HEAD, which must exit zero, and
# checks the A/B summary of scripts/ab_perfbench.sh on canned runs. Run
# any time; touches nothing in-repo.
set -euo pipefail
cd "$(dirname "$0")/.."

TMP="$(mktemp -d /tmp/graft_gate_selftest.XXXXXX)"
trap 'rm -rf "$TMP"' EXIT
mkdir -p "$TMP/scripts"
cp scripts/check_changes.sh "$TMP/scripts/"

gate() { (cd "$TMP" && bash scripts/check_changes.sh) >/dev/null 2>&1; }
expect_fail() {
  if gate; then
    echo "SELFTEST FAIL: gate passed with $1" >&2
    exit 1
  fi
}

expect_fail "CHANGES.md missing"
printf '\n  \n' > "$TMP/CHANGES.md"
expect_fail "a blank CHANGES.md"
printf -- '- Sped up the probe; the numbers follow:\n' > "$TMP/CHANGES.md"
expect_fail "a CHANGES.md ending in a dangling promise"
printf -- '- Sped up the probe.\n\n' > "$TMP/CHANGES.md"
if ! gate; then
  echo "SELFTEST FAIL: gate failed with a finished CHANGES.md entry" >&2
  exit 1
fi
echo "SELFTEST OK: gate needs a non-empty CHANGES.md without a dangling promise"
if ! bash scripts/loc.sh HEAD >/dev/null; then
  echo "SELFTEST FAIL: scripts/loc.sh HEAD exited non-zero" >&2
  exit 1
fi
echo "SELFTEST OK: scripts/loc.sh runs on HEAD"

# The A/B summary (scripts/ab_perfbench.sh --summarize) on canned result
# lines: no JVM starts. canned PASS CHANGE_PASS... writes ten pairs whose
# base pass_s is 2.00 + 0.01·i and whose change reads the given values
# (null: a run that printed no result); other metrics are flat but for a
# change peak_rss_mb 20% above the base.
canned() {
  python3 - "$@" <<'PY'
import json, sys
def res(p, rss):
    m = {"pass_s": p, "cpu_s": 3.0, "setup_s": 3.0, "peak_rss_mb": rss, "ok_ratio": 1.0}
    return json.dumps({"correct": 6, "attempted": 6, "failed": 0,
                       "metrics": {k: {"value": v, "unit": "-"} for k, v in m.items()}})
for i, c in enumerate(sys.argv[1:]):
    print(f"base {i} {i} {res(2.0 + 0.01 * i, 1000)}")
    print(f"change {i} {i} {'null' if c == 'null' else res(float(c), 1200)}")
PY
}
ab_line() { # metric, canned change values...
  local m=$1; shift
  canned "$@" > "$TMP/ab.txt"
  bash scripts/ab_perfbench.sh --summarize "$TMP/ab.txt" | grep "^$m "
}
expect_ab() { # description, grep pattern, metric, canned change values...
  local what=$1 pat=$2; shift 2
  if ! ab_line "$@" | grep -qE "$pat"; then
    echo "SELFTEST FAIL: A/B summary, $what: $(ab_line "$@")" >&2
    exit 1
  fi
}
wide=(1.6 1.61 1.62 1.63 1.64 1.65 1.66 1.67 1.68 1.69)
expect_ab "10/10 wins, gap above the IQR" ' 10/10 .* holds$' pass_s "${wide[@]}"
expect_ab "8/10 wins" ' 8/10 .* no$' pass_s 2.5 2.5 "${wide[@]:2}"
expect_ab "a failed run loses its pair" ' 9/10 .* holds$' pass_s null "${wide[@]:1}"
expect_ab "10/10 wins inside the IQR" ' 10/10 .* no$' pass_s 1.99 2.0 2.01 2.02 2.03 2.04 2.05 2.06 2.07 2.08
expect_ab "a 20% rise against a 10% bound" 'WORSE \(10%\) no$' peak_rss_mb "${wide[@]}"
expect_ab "a flat metric" ' 0/10 .* ok \(22%\) no$' cpu_s "${wide[@]}"
echo "SELFTEST OK: ab_perfbench.sh summary counts wins, IQR and bounds on canned runs"
