#!/usr/bin/env bash
# Package the engine and launch the bench via spark-submit --py-files,
# the deployment mode the north rule specifies for multi-executor
# clusters. On a real cluster, replace --master local[...] with the
# cluster master URL; nothing else changes.
set -euo pipefail
HERE="$(cd "$(dirname "$0")/.." && pwd)"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
ZIP="$(mktemp -d)/pdf_context_extractor_agent_spark.zip"
(cd "$HERE" && zip -qr "$ZIP" pdf_context_extractor_agent_spark)
exec spark-submit \
  --master "local[${CPUS}]" \
  --py-files "$ZIP" \
  --conf spark.sql.shuffle.partitions="${CPUS}" \
  --conf spark.ui.enabled=false \
  "$HERE/bench.py" "$@"
