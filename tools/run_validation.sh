#!/bin/bash
# Full local validation, the gate a change must pass:
#   1. the tier-1 pytest suite, run as ROADMAP.md's tier-1 command runs it,
#      plus --durations=15 so every run prints its 15 slowest tests;
#   2. the benchmark's own tests (perfbench/tests), which import the driver
#      contract (__spark_entry__.queries()/oracle_sql()) and
#      tools/check_oracles.value_hash, so a contract edit cannot break the
#      benchmark unseen;
#   3. tools/check_oracles.py (the oracle window) at sf0.001 and sf0.01.
# Every step runs; the exit status is non-zero if any of them failed.
# It first prints the line counts of the package, the tests and
# __spark_entry__.py, so a change's net line delta is the difference of
# two runs' first lines.
#
# Usage: tools/run_validation.sh TESTDATA_DIR   (holding sf0.001/ and sf0.01/)
set -u
cd "$(dirname "$0")/.."
data="${1:?usage: tools/run_validation.sh TESTDATA_DIR (holding sf0.001/ and sf0.01/)}"
failed=()

pylines() { find "$@" -name '*.py' -print0 | xargs -0 cat | wc -l; }
echo "lines: package $(pylines extractors_geo_spark) tests $(pylines tests)" \
  "__spark_entry__.py $(wc -l < __spark_entry__.py)"

echo "=== tier-1 pytest ==="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider \
  --durations=15 \
  || failed+=("tier-1 pytest")

echo "=== perfbench tests ==="
python -m pytest perfbench/tests -q -p no:cacheprovider || failed+=("perfbench tests")

for sf in sf0.001 sf0.01; do
  echo "=== oracles $sf ==="
  python tools/check_oracles.py "$data/$sf" || failed+=("oracles $sf")
done

if (( ${#failed[@]} )); then
  printf 'FAILED: %s\n' "${failed[@]}"
  exit 1
fi
echo "validation passed"
