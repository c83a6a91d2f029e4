#!/usr/bin/env bash
# Full verification battery — the round-closing practice in one command:
#   pytest (the repo's tests, then perfbench's pure tests), then full
#   oracle sweeps at sf0.001 / sf0.01 / sf0.1, plus the whole-surface
#   partitioning-invariance pass (CHECK_SHUFFLE=3). Each sweep checks
#   values and output dtypes in one pass (tools/check.py).
# Usage: bash tools/sweep.sh [outdir=/tmp/sweep]
# Exits non-zero on the first failing stage; logs land in $outdir.
set -u
OUT="${1:-/tmp/sweep}"
mkdir -p "$OUT"
cd "$(dirname "$0")/.."

run() {
  local name="$1"; shift
  echo "=== $name"
  if ! "$@" > "$OUT/$name.log" 2>&1; then
    echo "FAILED: $name (see $OUT/$name.log)"; exit 1
  fi
  tail -1 "$OUT/$name.log"
}

run pytest python -m pytest tests/ -x -q
run perfbench python -m pytest perfbench/tests -q
# CHECK_JSON: each sweep stage persists a machine-readable artifact so
# the green evidence is auditable after the fact (ADVICE r05) — copy
# $OUT/sweep_*.json into the repo at round close.
run sf0001 env CHECK_JSON="$OUT/sweep_sf0001.json" python tools/check.py /root/testdata/sf0.001
run sf001  env CHECK_JSON="$OUT/sweep_sf001.json" python tools/check.py /root/testdata/sf0.01
run inv    env CHECK_SHUFFLE=3 CHECK_JSON="$OUT/sweep_inv.json" python tools/check.py /root/testdata/sf0.01
run sf01   env CHECK_JSON="$OUT/sweep_sf01.json" python tools/check.py /root/testdata/sf0.1
for f in sf0001 sf001 inv sf01; do
  if grep -q FAIL "$OUT/$f.log"; then echo "FAILURES in $f"; exit 1; fi
done
echo "BATTERY GREEN"
