#!/usr/bin/env bash
# Package westa_ocr_spark and run the extraction pipeline via
# spark-submit --py-files (the north rule's deployment shape).
#
# Usage: scripts/submit.sh [--master spark://...] [pipeline args...]
# Defaults to local[$SPARK_GRAFT_CPUS] when no master is given.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="/tmp/westa_ocr_spark.zip"

(cd "$REPO" && rm -f "$ZIP" && zip -qr "$ZIP" westa_ocr_spark -x '*__pycache__*')

MASTER="local[${SPARK_GRAFT_CPUS:-32}]"
if [[ "${1:-}" == "--master" ]]; then
  MASTER="$2"; shift 2
fi

# Iceberg catalog (optional): point ICEBERG_JAR at the
# iceberg-spark-runtime jar to configure the session catalog that the
# MERGE INTO of docs/ICEBERG.md needs. The extraction pipeline writes
# ParquetTable either way.
ICEBERG_ARGS=()
if [[ -n "${ICEBERG_JAR:-}" ]]; then
  ICEBERG_ARGS=(
    --jars "$ICEBERG_JAR"
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    --conf spark.sql.catalog.spark_catalog=org.apache.iceberg.spark.SparkSessionCatalog
    --conf spark.sql.catalog.spark_catalog.type="${ICEBERG_CATALOG_TYPE:-hadoop}"
    --conf spark.sql.catalog.spark_catalog.warehouse="${ICEBERG_WAREHOUSE:-/tmp/iceberg_wh}"
  )
fi

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \
  "${ICEBERG_ARGS[@]}" \
  "$REPO/scripts/run_pipeline.py" "$@"
