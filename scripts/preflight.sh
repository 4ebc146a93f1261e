#!/usr/bin/env bash
# Round-start preflight: catch environment drift (testdata regeneration,
# dependency changes) BEFORE building on top of it — the r6 lesson, where
# a regenerated events.parquet silently un-ran 12 gate queries.
#
# Runs the full driver-shaped gate at sf0.01: graft.Verify dumps every
# query (exits non-zero on any per-query failure, writing failures.json),
# then the DuckDB oracle compares all of them; then one etl_corpus
# benchmark run gates the ETL pipeline's sinks. Takes ~5 min.
#
# Usage: scripts/preflight.sh [sfDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-preflight.XXXXXX)"
echo "[preflight] Verify on $SF -> $OUT"
sbt -batch "runMain graft.Verify $SF $OUT"
echo "[preflight] DuckDB oracle compare"
# run the oracle compare ONCE: the displayed output and the GREEN/RED
# decision must come from the same run (the hostile_gate.sh fix, r11)
ORACLE_OUT="$(python3 scripts/check_oracle.py "$SF" "$OUT")"
echo "$ORACLE_OUT" | tail -3
echo "$ORACLE_OUT" | tail -1 | grep -q " 0 fail" \
  || { echo "[preflight] RED — fix before building"; exit 1; }
echo "[preflight] ETL pipeline through the benchmark's sink checks"
# one untraced etl_corpus run: EtlMain over the generated scraper corpus,
# its CSV/INSERT/JSONL sinks checked against the generator's counts
ETL_OUT="$(python3 perfbench/run.py --workload etl_corpus --seed 1 --seconds 10 --trace 0)" \
  || { echo "[preflight] RED — ETL benchmark run crashed"; exit 1; }
echo "$ETL_OUT" | tail -1
echo "$ETL_OUT" | tail -1 | grep -q '"correct": true' \
  && echo "[preflight] GREEN" \
  || { echo "[preflight] RED — ETL sinks wrong, fix before building"; exit 1; }
