#!/usr/bin/env bash
# Full-registry oracle parity at sf0.1, 10x the sf0.01 driver check's
# volume, as one command. Runs every queries()/oracle_sql() pair on a
# plain SparkSession (the driver's exact environment) against
# /root/testdata/sf0.1 and fails unless every collected test passes: a
# failure, an error or a skip all fail the gate, and there is no expected
# count to keep in step with the registry.
#
# Usage: scripts/parity_sf01.sh
#
# The class of bug this catches beyond the sf0.01 driver check:
# decimal->double drift past 2^53, window tie-breaks that only collide
# at higher row counts, bucket caps saturating at volume.
set -euo pipefail
cd "$(dirname "$0")/.."

OUT="$(mktemp)"
trap 'rm -f "$OUT"' EXIT

# `|| true`: pytest's own exit code must not pre-empt (via pipefail) the
# summary check below, which produces the useful message
H3R_PLAIN_SESSION=1 H3R_TEST_SF_DIR=/root/testdata/sf0.1 \
  python -m pytest tests/test_oracle_parity.py -q 2>&1 | tee "$OUT" | tail -3 \
  || true

# pytest -q ends with e.g. "261 passed, 1 warning in 999.12s"; any other
# outcome (failed, error, skipped, xfailed, ...) shows up in that line
SUMMARY="$(tail -1 "$OUT")"
if ! grep -qE '^[0-9]+ passed(, [0-9]+ warnings?)? in ' <<<"$SUMMARY"; then
  echo "parity_sf01: not every collected test passed at sf0.1: '$SUMMARY'" >&2
  exit 1
fi
echo "parity_sf01: OK (${SUMMARY%% in *} at sf0.1)"
