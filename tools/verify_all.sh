#!/bin/sh
# Full verification battery, in the order of fastest feedback:
#   1. registry invariants + unit/property/streaming tests, run as the
#      tier-1 gate: all cores, 2670 s hard timeout, no pytest cache
#   2. physical-plan assertions (design-for-100x)
#   3. full Spark-vs-DuckDB oracle compare at the driver SF
#   4. headline bench (one JSON line)
# Any failure stops the run, a tier-1 timeout included. On a 4-core
# host step 1 alone has taken 1425-2125 s, selfcheck ~330 s.
set -e
cd "$(dirname "$0")/.."

echo "== pytest (tier-1) =="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
SPARK_LOCAL_DIRS=/tmp/spark-local \
timeout -k 10 2670 python -m pytest tests/ -q \
    --continue-on-collection-errors -p no:cacheprovider

echo "== plan audit =="
python tools/plan_audit.py

echo "== selfcheck (driver SF) =="
timeout 1800 python tools/selfcheck.py /root/testdata/sf0.01

echo "== bench =="
timeout 900 python bench.py
