#!/bin/bash
# LEGACY: drives the legacy bench.py flagship protocol (through
# tools/ab_flagship.py), not the geocoder benchmark.  For perfbench
# A/Bs use tools/ab_perfbench.py.
#
# Interleaved whole-job flagship A/B: alternate r3 tree vs current tree,
# fresh JVM per invocation, 3 timed runs inside each invocation,
# 3 invocations per arm => 9 timed samples per arm, interleaved so host
# drift hits both arms equally.
set -u
R3=${R3:-/tmp/r3tree}
CUR=${CUR:-/root/repo}
OUT=${OUT:-/tmp/ab_flagship_results.jsonl}
: > "$OUT"
for i in 1 2 3; do
  for tree in "$R3" "$CUR"; do
    ck="/tmp/ab_ckpt_$(basename "$tree")"
    echo "=== round $i tree $tree ===" >&2
    python /root/repo/tools/ab_flagship.py "$tree" "$ck" 3 2>/dev/null >> "$OUT"
  done
done
cat "$OUT"
