#!/bin/bash
# Round-close loop, one command (the checklist in COVERAGE/SCALE + the
# doc-count ratchet lives in DocsSyncSpec so step 1 enforces it):
#   1. full spec suite (includes PlanShapeSpec ratchets, WindowCapacitySpec
#      single-partition-window guard, DocsSyncSpec README-count sync)
#   2. full correctness dump at sf0.01 + DuckDB oracle cross-check
#   3. full sf0.1 bench artifact (BENCH_SF01_r<N>.json if $1 given)
# Usage: tools/roundclose.sh [roundtag]   e.g. tools/roundclose.sh r9
# pipefail: a failed step must stop the round-close even though each
# step's output is piped through grep/tail
set -eo pipefail
cd "$(dirname "$0")/.."
tag=${1:-local}
echo "== 1/3 sbt test =="
sbt -batch test 2>&1 | grep -E "Tests:|Suites:|FAILED|\*\*\*" | tail -5
echo "== 2/3 verify + oracles (sf0.01) =="
# no "failed" line is the success case, so an empty grep is not an error
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_close" 2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/check_oracles.py /tmp/verify_close /root/testdata/sf0.01 | tail -3
echo "== 3/3 bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT="BENCH_SF01_${tag}.json" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | tail -1
