#!/usr/bin/env bash
# Pre-snapshot gate: everything the driver will check, run locally and
# loudly BEFORE the end-of-round commit. Round 7 shipped a snapshot that
# didn't compile because this step was skipped — never again.
#
#   scripts/presnapshot.sh [sf-dir]     (default /root/testdata/sf0.01)
#
# Green means: main + test sources compile, every ScalaTest passes,
# graft.Verify writes all query results, and the DuckDB localcheck
# reports 0 failing rows. Anything else exits non-zero at the first
# broken stage.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/graft_presnapshot.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "== presnapshot: compile (main + test) =="
sbt -batch "Test/compile" < /dev/null

echo "== presnapshot: scalatest =="
sbt -batch test < /dev/null

echo "== presnapshot: graft.Verify @ $SF_DIR =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" < /dev/null

echo "== presnapshot: duckdb localcheck =="
python3 scripts/localcheck.py "$SF_DIR" "$OUT_DIR"

echo "== presnapshot: CHANGES.md entry =="
# Shared with the git pre-commit hook, which is what actually makes the
# gate fire (round 10 proved a script nobody runs gates nothing).
bash scripts/check_changes.sh

echo "== presnapshot: ALL GREEN =="
