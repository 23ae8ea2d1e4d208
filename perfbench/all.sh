#!/bin/sh
# Run every workload once, untraced, and print each one's result line.
#   sh perfbench/all.sh [seed] [seconds]
for w in etl_ingest corpus_dedup stream_upsert; do
    printf '%s ' "$w"
    python3 perfbench/run.py --workload "$w" --seed "${1:-1}" --seconds "${2:-10}" --trace 0 | tail -n 1
done
