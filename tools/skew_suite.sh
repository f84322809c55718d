#!/usr/bin/env bash
# One-command reproduction of the 10x skew-corpus scale evidence (the
# corpus lives in tmpdir and dies on reboot, and the knobs that make the
# sweeps runnable would otherwise live only in BENCH_NOTES prose).
#
# What it runs, in order, with the required session sizing
# (SPARK_DRIVER_MEM=80g SPARK_GRAFT_CPUS=16 SPARK_GRAFT_SHUFFLE=192 —
# the 200M-row exact-pair anchors OOM the default 8g/32-wide session):
#   1. tools/Sf1Skew        — (re)build /tmp/graft_sf1_skew (skipped if
#                             present) + the skew-sensitive suite,
#                             min-of-2 per query (SPARK_GRAFT_SUITE=all
#                             adds the duplication-heavy text family)
#   2. tools/GateResolve    — home-mass distribution of the production
#                             gate fit, plus the resolved mass budget
#                             and curve (with a Spark session)
#   3. tools/GateSweep      — scanned-mass recall curve, persisted as
#                             _sweep.json (drives recall-targeted sizing)
#   4. tools/GateResolve    — registry resolve audit of sf0.01, sf0.1
#                             and the skew corpus, no Spark session
#
# Wall-clock: ~20 min mass sweep + ~10 min suite on a 32-core box
# (BENCH_NOTES). Artifacts print to stdout; commit them under
# gates/r<N>/ like gates/r14/sf1skew_suite.txt.
#
# Usage: tools/skew_suite.sh [suite|balance|masssweep|resolve|all]
# (default: all). Suite lines carry per-query "load [start, end]"
# samples — the Bench artifacts' self-adjudication key (trust a line
# only when both samples read idle); SPARK_GRAFT_ONLY=name,name
# narrows the suite step to the named queries.
set -euo pipefail
cd "$(dirname "$0")/.."

export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-80g}"
SKEW_DIR="${TMPDIR:-/tmp}/graft_sf1_skew"
STEP="${1:-all}"

run() { echo ">>> $*"; sbt -batch "$@"; }

# Back-to-back 80g sessions leave load/GC/
# page-cache residue that contaminated the receipts (the gated density twin
# read 80-129 s where a controlled A/B read 39 s). Wait for the 1-min
# load to decay below SPARK_GRAFT_LOAD_TARGET (default 2.0, the honest-
# close-take level) before each session, capped at 10 min — if it never
# decays we proceed loudly, and the per-query "load [start, end]" keys
# on every receipt line still adjudicate the take.
wait_load() {
  local target="${SPARK_GRAFT_LOAD_TARGET:-2.0}" waited=0 l
  while :; do
    l=$(cut -d' ' -f1 /proc/loadavg)
    if awk -v l="$l" -v t="$target" 'BEGIN{exit !(l<=t)}'; then
      echo ">>> load $l <= $target — proceeding"; return
    fi
    if (( waited >= 600 )); then
      echo ">>> load $l still > $target after ${waited}s — proceeding anyway (receipt load keys adjudicate)"; return
    fi
    echo ">>> load $l > $target — waiting 30s for decay"
    sleep 30; waited=$((waited + 30))
  done
}

if [[ "$STEP" == "suite" || "$STEP" == "all" ]]; then
  # builds the corpus if absent, then times the skew suite. The SUITE
  # runs at the full 32-thread width (the committed receipts' config —
  # 16-cpu/192-shuffle sweep knobs here read ~2x slow on the graph
  # family and 3x on the gated density twin, pure harness); only the SWEEPS need the
  # narrow/wide-shuffle session, because their 200M-row exact-pair
  # anchors OOM 32 concurrent sort tasks on an 80g heap.
  wait_load
  SPARK_GRAFT_SUITE=all SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    run "runMain graft.tools.Sf1Skew"
fi
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}"
export SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-192}"
if [[ "$STEP" == "balance" || "$STEP" == "all" ]]; then
  wait_load
  run "runMain graft.tools.GateResolve $SKEW_DIR"
fi
if [[ "$STEP" == "masssweep" || "$STEP" == "all" ]]; then
  wait_load
  SPARK_GRAFT_MASS_BUDGETS=0.1,0.35,0.53 run "runMain graft.tools.GateSweep $SKEW_DIR"
fi
if [[ "$STEP" == "resolve" || "$STEP" == "all" ]]; then
  # the closing gate always includes the
  # registry resolve audit — a silent key/format drift in the committed
  # curves would quietly revert sizing to constants on clean machines.
  # RESOLVE_ONLY skips the Spark session; the receipt goes under
  # gates/r<N>/ with the suite output.
  SPARK_GRAFT_RESOLVE_ONLY=1 \
    run "runMain graft.tools.GateResolve /root/testdata/sf0.01 /root/testdata/sf0.1 $SKEW_DIR"
fi
echo ">>> done; persisted curve:"
ls -la "${TMPDIR:-/tmp}"/graft_gatemasssweep_*_sf1_skew/_sweep.json 2>/dev/null || true
