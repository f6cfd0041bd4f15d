#!/usr/bin/env bash
# CHANGES-narrative gate, standalone so BOTH presnapshot.sh and the git
# pre-commit hook can run it. The repo logs one entry per change in
# CHANGES.md; a commit/snapshot without a non-empty CHANGES.md fails.
#
# It also rejects a CHANGES.md that ends in a dangling promise
# ("… re-measure below." with nothing below — a truncated entry): the
# last non-blank line must not end with a bare colon or with
# "below"/"follows" (+ punctuation), which always announce content that
# is supposed to come after.
set -euo pipefail
cd "$(dirname "$0")/.."

if ! grep -q '[^[:space:]]' CHANGES.md 2>/dev/null; then
  echo "FATAL: CHANGES.md missing or empty — describe the change first" >&2
  exit 1
fi

check_no_dangling_promise() {
  local f="$1"
  local last
  last="$(grep -vE '^[[:space:]]*$' "$f" | tail -1 || true)"
  if [[ "$last" =~ (below|follows)[[:space:]]*[.:]?[[:space:]]*$ || "$last" =~ :[[:space:]]*$ ]]; then
    echo "FATAL: $f ends in a dangling promise: '$last'" >&2
    echo "       Write the promised content (or reword) before committing." >&2
    exit 1
  fi
}
check_no_dangling_promise CHANGES.md
