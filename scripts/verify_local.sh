#!/bin/bash
# Local t2 emulation: dump query results at sf0.01 + compare vs DuckDB.
#
# The default output dir is unique per invocation (mktemp): two concurrent
# runs sharing one dir double-write query dirs and produce phantom
# row-count failures (adjudicated in round 6's zorder_key).
#
# A full default-scale run (no SPARK_GRAFT_ONLY/SKIP, sf0.01) also writes
# the repo-owned correctness record CORRECTNESS_LOCAL.json so the round
# never depends on the driver's artifact alone.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-$(mktemp -d /tmp/verify_out.XXXXXX)}
cd /root/repo
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -vE "^\[info\]" | grep -vE "WARN|INFO|\[verify\] begin " | head -20
JSON_ARGS=()
if [[ -z "${SPARK_GRAFT_ONLY:-}" && -z "${SPARK_GRAFT_SKIP:-}" && "$SF" == *sf0.01* ]]; then
  JSON_ARGS=(--json /root/repo/CORRECTNESS_LOCAL.json)
fi
python3 scripts/compare_oracle.py "$SF" "$OUT" "${JSON_ARGS[@]}"
# second-engine division-semantics check: Python // FLOORS negatives
# (the driver-DuckDB behavior) while local DuckDB 1.0.0 truncates —
# replaying the negative-capable division chains under floor proves the
# oracles are version-portable (the r10 stats_ols/ts_autocorr breach)
python3 scripts/check_division_portability.py "$OUT"
