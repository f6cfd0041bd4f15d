#!/usr/bin/env bash
# Self-test for the CHANGES gate: in a scratch copy the gate must exit
# non-zero without CHANGES.md, with an empty one and with one ending in
# a dangling promise, and zero with a finished entry. Run any time;
# touches nothing in-repo.
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
