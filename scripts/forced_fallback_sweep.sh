#!/usr/bin/env bash
# Forced-fallback oracle sweep (round-11 verdict item 1): run the FULL
# query catalog with every driver-side size gate forced to its distributed
# branch (graft.ScaleGates — the pageRank vector path; the shared edge gate
# Graph.driverLocal in front of the triangleStats / kCore /
# commonNeighborScores driver-local kernels; connectedComponents
# union-find; the groupedMedianMad collect; and the kCore / triangleStats /
# Distribution broadcast gates all take the 100 TB code path), then
# oracle-check the dump against DuckDB exactly like the driver's gate.
# An empty edge list still passes the zeroed edge gate (0 <= 0).
#
# Usage: scripts/forced_fallback_sweep.sh [SF_DIR] [OUT_DIR]
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/forced_verify}"
cd "$(dirname "$0")/.."
SPARK_GRAFT_FORCE_DISTRIBUTED=1 sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR"
