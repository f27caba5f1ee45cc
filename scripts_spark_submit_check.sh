#!/usr/bin/env bash
# North-rule deployment check: the engine runs via `spark-submit
# --py-files frontier_engine.zip` with no repo on the PYTHONPATH — i.e.
# exactly how a multi-executor cluster would receive it. Drives a 4-round
# demo crawl end-to-end and prints the CLI's JSON summary.
set -euo pipefail
cd "$(dirname "$0")"
WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT
zip -qr "$WORK/frontier_engine.zip" frontier_engine
cp run_crawl_cli.py "$WORK/"
cd "$WORK"   # ensure imports come from the zip, not the repo checkout
"${SPARK_HOME:-/opt/spark}"/bin/spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-8}]" \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=16 \
  --py-files "$WORK/frontier_engine.zip" \
  "$WORK/run_crawl_cli.py" --demo-world "$WORK/world" \
  --snapshot-dir "$WORK/snap" --max-rounds 4
