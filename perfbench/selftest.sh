#!/usr/bin/env bash
# Self-test of the benchmark's output check: a clean run must report no
# failed operations and "correct": true, and each injected fault (a
# tampered sink record, a dropped raw audit row, a perturbed evaluator
# value) must make the run report failed operations and "correct": false.
# Run from the root of a checkout:
#   bash perfbench/selftest.sh [seconds]
set -euo pipefail
cd "$(dirname "$0")/.."
seconds=${1:-5}
status=0
for workload in http-trickle stream-microbatch; do
  for fault in none tamper-sink drop-audit perturb-oracle; do
    args=(--workload "$workload" --seed 3 --seconds "$seconds" --trace 0)
    [ "$fault" != none ] && args+=(--inject "$fault")
    line=$(python3 perfbench/run.py "${args[@]}" 2>/dev/null | tail -1)
    read -r attempted failed correct < <(python3 -c \
      'import json,sys; r=json.loads(sys.argv[1]); print(r["attempted"], r["failed"], r["correct"])' "$line")
    if { [ "$fault" = none ] && [ "$failed" -eq 0 ] && [ "$correct" = True ]; } ||
       { [ "$fault" != none ] && [ "$failed" -gt 0 ] && [ "$correct" = False ]; }; then
      verdict=ok
    else
      verdict=WRONG; status=1
    fi
    echo "$workload $fault: attempted=$attempted failed=$failed correct=$correct $verdict"
  done
done
exit $status
