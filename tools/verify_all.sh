#!/usr/bin/env bash
# The complete round gate in one command. Run before closing a round:
#   bash tools/verify_all.sh
# 1. full pytest + benchmark self-tests   2. oracle sweeps at all three
# fixture SFs   3. etl_taxi backfill, olap_mix and stream_events smoke
# runs (each must report correct)   4. headline bench       (stop on first failure)
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -x -q
python -m pytest perfbench/test_perfbench.py -q
echo "== oracle sweep sf0.01 (driver gate replica) =="
python tools/check_oracle.py | tail -1
echo "== oracle sweep sf0.1 =="
python tools/check_oracle.py --sf /root/testdata/sf0.1 | tail -1
echo "== oracle sweep sf0.001 =="
python tools/check_oracle.py --sf /root/testdata/sf0.001 | tail -1
echo "== etl_taxi smoke (backfill into one output_dir) =="
last=$(python3 perfbench/run.py --workload etl_taxi --seed 1 --seconds 13 | tail -1)
echo "$last"
grep -q '"correct": true' <<<"$last"
echo "== olap_mix smoke (repeated QUERIES calls, most on reused plans) =="
last=$(python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 13 | tail -1)
echo "$last"
grep -q '"correct": true' <<<"$last"
echo "== stream_events smoke (checkpointed micro-batches, stopped and checked) =="
last=$(python3 perfbench/run.py --workload stream_events --seed 1 --seconds 13 | tail -1)
echo "$last"
grep -q '"correct": true' <<<"$last"
echo "== bench =="
python bench.py | tail -1
