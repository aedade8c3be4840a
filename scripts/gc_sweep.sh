#!/bin/bash
# GC-choice sweep for the multi-round crawl: interleaved variants so host
# throttle bursts hit all variants instead of one. Output: one line per run.
set -u
cd "$(dirname "$0")/.."
OUT=/tmp/gc_sweep.txt
: > $OUT
run() { # cpus rounds gc young label
  local cpus=$1 rounds=$2 gc=$3 young=$4 label=$5
  local t=$(SPARK_GRAFT_CPUS=$cpus GRAFT_PROF_PAGES=250000 GRAFT_PROF_ROUNDS=$rounds \
    GRAFT_PROF_AQE=false GRAFT_GC=$gc GRAFT_YOUNG_GEN=$young \
    timeout 900 sbt -batch "runMain graft.tools.RoundProf" 2>&1 |
    grep -E "TOTAL wall|sum gc" | tr '\n' ' ')
  echo "$label cpus=$cpus rounds=$rounds :: $t" >> $OUT
  sleep 20
}
for pass in 1 2; do
  run 16 8 UseParallelGC 4g  "par4g-p$pass"
  run 16 8 UseG1GC       4g  "g1-p$pass"
  run 16 8 UseParallelGC 12g "par12g-p$pass"
done
run 4 8 UseParallelGC 4g  "par4g"
run 4 8 UseG1GC       4g  "g1"
run 4 8 UseParallelGC 12g "par12g"
echo DONE >> $OUT
