#!/usr/bin/env bash
# Pre-submit gate (round-5 verdict item 7): ONE command that must be
# green before recording a round's bench/correctness artifacts.
#
#   1. full unit suite — includes tests/test_plan_audit.py (fleet-wide
#      physical-plan rules: no Python row eval, no cartesian products,
#      sanctioned-only Arrow boundaries, no unlisted global windows)
#      and tests/test_oracle_parity.py (every oracle-backed query
#      hash-diffed against its DuckDB oracle at sf0.01 — the same
#      compare the driver runs, so a red here means a red there);
#   2. scripts/correctness_local.py — the driver-faithful standalone
#      mirror (fresh session, no pre-set confs), belt-and-braces over
#      the pytest-session parity run.
#
# Tiering (round-8 verdict item 6 — preflight wall time at 165
# queries, measured r9 on this host):
#   scripts/preflight.sh          full gate   (~35 min: pytest ~25 min
#                                 incl. the 165-query parity + plan
#                                 audit sweeps; correctness_local full
#                                 registry ~8 min)
#   scripts/preflight.sh core     mid-iteration tier (~6 min): plan
#                                 audit + registry meta-tests + the
#                                 perf tool's tests + the
#                                 current 50-query external window
#                                 through correctness_local. Use while
#                                 iterating; the FULL gate remains
#                                 mandatory before recording artifacts.
#
# Usage: scripts/preflight.sh [core]
set -euo pipefail
cd "$(dirname "$0")/.."
if [[ "${1:-}" == "core" ]]; then
  python -m pytest tests/test_plan_audit.py tests/test_oracle_parity.py::test_external_window_composition \
      tests/test_oracle_parity.py::test_next_window_simulation tests/test_oracle_parity.py::test_entry_runs \
      tests/test_perf_tool.py -q
  WINDOW=$(python - <<'EOF'
import __spark_entry__ as m
print(" ".join(list(m.queries())[:50]))
EOF
)
  python scripts/correctness_local.py $WINDOW
  echo "preflight[core]: GREEN (full gate still required before artifacts)"
else
  python -m pytest tests/ -x -q
  python scripts/correctness_local.py
  echo "preflight: ALL GREEN"
fi
