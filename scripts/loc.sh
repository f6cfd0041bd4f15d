#!/usr/bin/env bash
# Net lines of code of a change: lines added and removed under src/main
# and src/test between a base revision and the working tree (tracked
# and staged files), counted twice — non-blank lines, and non-blank
# lines that are not comments (//, /*, * and */ line starts).
#
#   scripts/loc.sh [base]     (default HEAD~1)
set -euo pipefail
cd "$(dirname "$0")/.."

BASE="${1:-HEAD~1}"
git rev-parse --verify --quiet "$BASE^{commit}" >/dev/null || {
  echo "FATAL: unknown base revision '$BASE'" >&2
  exit 1
}

count() {
  git diff --no-color --no-ext-diff -U0 "$BASE" -- "$1" | awk -v dir="$1" '
    /^diff --git / { hunk = 0; next }
    /^@@/ { hunk = 1; next }
    !hunk { next }
    /^[+-]/ {
      sign = substr($0, 1, 1); body = substr($0, 2)
      if (body ~ /^[[:space:]]*$/) next
      if (sign == "+") addNb++; else delNb++
      if (body ~ /^[[:space:]]*(\/\/|\/\*|\*)/) next
      if (sign == "+") addNc++; else delNc++
    }
    END {
      printf "%-9s non-blank +%d/-%d (net %+d)   non-comment +%d/-%d (net %+d)\n",
        dir, addNb, delNb, addNb - delNb, addNc, delNc, addNc - delNc
    }'
}

echo "lines vs $BASE:"
count src/main
count src/test
