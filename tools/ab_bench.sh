#!/bin/bash
# LEGACY: drives the legacy bench.py (TPC-H-style gate queries), not the
# geocoder benchmark.  For perfbench A/Bs use tools/ab_perfbench.py.
#
# Interleaved whole-bench A/B: alternate the round-5 tree vs the current
# tree, fresh process per invocation, running each tree's OWN bench.py
# (identical frozen file in both trees) at sf0.1.  Interleaving makes
# host drift hit both arms equally; medians per arm are the round's
# before/after evidence.
set -u
R5=${R5:-/tmp/r5tree}
CUR=${CUR:-/root/repo}
ROUNDS=${ROUNDS:-3}
OUT=${OUT:-/tmp/ab_bench_results.jsonl}
: > "$OUT"
for i in $(seq 1 "$ROUNDS"); do
  for tree in "$R5" "$CUR"; do
    echo "=== round $i tree $tree ===" >&2
    line=$(cd "$tree" && SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
        SPARK_GRAFT_CPUS=32 python bench.py 2>/dev/null | tail -1)
    echo "{\"tree\": \"$tree\", \"round\": $i, \"result\": $line}" >> "$OUT"
  done
done
cat "$OUT"
