#!/bin/bash
# Scale-probe runner (round-6 verdict ask #3): graft.ScaleProbe through
# tools/run_class.sh (classes snapshot + build.sbt JVM flags). MUST NOT
# run concurrently with sbt (CPU steal — same rule as Bench).
# Usage: tools/scaleprobe.sh [factor] [workdir] [extra ScaleProbe args...]
# (pass --organic as an extra arg for the organic-growth mode; set
# SCALEPROBE_OUT to redirect the JSON artifact, default SCALEPROBE.json)
set -euo pipefail
cd "$(dirname "$0")/.."
FACTOR="${1:-20}"
WORK="${2:-/tmp/graft_scaleprobe}"
shift $(( $# > 2 ? 2 : $# ))
# Round-8 postmortem: leftover spill from cert tooling filled the disk and
# zeroed the round. No exec — the trap must fire even when the JVM is
# killed or dies, cleaning DuckDB spill (from any oracle step sharing the
# .tmp).
# Per-run spill subdir: concurrent cert runs must not delete each
# other's live spill (each run's trap removes only its own dir).
# Owner-only trap: this run's spill dir ONLY — a shared glob here would
# delete a concurrent run's live spill mid-oracle.
export GRAFT_SPILL_DIR="$PWD/.tmp/duckdb_spill.$$"
trap 'rm -rf "$GRAFT_SPILL_DIR"' EXIT
SPARK_GRAFT_SCALEPROBE_OUT="${SCALEPROBE_OUT:-$PWD/SCALEPROBE.json}" \
  tools/run_class.sh graft.ScaleProbe /root/testdata/sf0.1 "$WORK" "$FACTOR" "$@"
