#!/usr/bin/env bash
# Forced-fallback oracle sweep (round-11 verdict item 1): run the FULL
# query catalog with every driver-side size gate forced to its distributed
# branch, then oracle-check the dump against DuckDB exactly like the
# driver's gate. Every gate lives in graft.ScaleGates (its scaladoc is the
# gate table: the edge gate ScaleGates.driverLocal in front of the pageRank /
# triangleStats / kCore / commonNeighborScores kernels and
# connectedComponents' union-find; the groupedMedianMad collect; and the
# pageRank / kCore / triangleStats / Distribution broadcast gates). Under
# the flag every gate closes, at any measured size including zero.
#
# Usage: scripts/forced_fallback_sweep.sh [SF_DIR] [OUT_DIR]
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/forced_verify}"
cd "$(dirname "$0")/.."
SPARK_GRAFT_FORCE_DISTRIBUTED=1 sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR"
