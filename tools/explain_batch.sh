#!/bin/bash
# Capture `graft.tools.Explain` output (formatted plan + 3-rep walls +
# AQE-final plan) for a list of queries into <out_dir>/<q>_<tag>.txt.
# Run it from the checkout whose plans you want (it runs that checkout's
# sbt); <out_dir> may lie outside it, so two checkouts can write side by
# side.
# Usage: tools/explain_batch.sh <out_dir> <sf_dir> <tag> <query> [query...]
# Env: SPARK_GRAFT_CPUS (default: this box's nproc).
set -u
OUT="$1"; SF="$2"; TAG="$3"; shift 3
mkdir -p "$OUT"
for q in "$@"; do
  echo "== explain $q ($TAG) =="
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    sbt -batch "runMain graft.tools.Explain $q $SF" > "$OUT/${q}_${TAG}.raw" 2>&1
  # strip sbt noise: keep from the first plan line onward
  awk '/^== (Physical Plan|Parsed Logical Plan)|^\[explain\]|^== Final/{found=1} found' \
    "$OUT/${q}_${TAG}.raw" > "$OUT/${q}_${TAG}.txt"
  grep -F '[explain]' "$OUT/${q}_${TAG}.txt" | tail -3
  rm -f "$OUT/${q}_${TAG}.raw"
done
