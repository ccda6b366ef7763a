#!/bin/bash
# The checks a change to the engine must pass, in order; stops at the first
# failure:
#   1. the tier-1 suite (ROADMAP.md): test compile, then `testOnly *`;
#   2. the benchmark package: `perfbench/build.py` compiles the engine with
#      the bench sources (tier-1 does not), then `perfbench/run.py --selftest`;
#   3. `graft.Verify` over a generated dataset dir, then
#      `scripts/compare_oracle.py` against DuckDB.
#
#   scripts/verify.sh <sfDir> [verifyOutDir]
#
# <sfDir> holds the dataset tables (documents.parquet, ...); the Verify
# output goes to [verifyOutDir] (default: a fresh dir under the temp dir).
set -euo pipefail
sf_dir=${1:?usage: scripts/verify.sh <sfDir> [verifyOutDir]}
out_dir=${2:-$(mktemp -d "${TMPDIR:-/tmp}/graft-verify-XXXXXX")}
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-${TMPDIR:-/tmp}/spark-local}"
sbt_() { timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "$@"; }

echo "== 1/3 tier-1 tests"
sbt_ Test/compile
sbt_ "testOnly *"

echo "== 2/3 perfbench build + selftest"
python3 perfbench/build.py
python3 perfbench/run.py --selftest

echo "== 3/3 graft.Verify on $sf_dir -> $out_dir, then the DuckDB oracle"
sbt_ "runMain graft.Verify $sf_dir $out_dir"
python3 scripts/compare_oracle.py "$out_dir" "$sf_dir"
