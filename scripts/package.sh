#!/usr/bin/env bash
# Build pipeline.zip for spark-submit --py-files (north-rule launch path).
#
#   ./scripts/package.sh [output.zip]    (default: pipeline.zip at the repo root)
#   spark-submit --master <cluster> --py-files pipeline.zip \
#       --conf spark.sql.mapKeyDedupPolicy=LAST_WIN \
#       --conf spark.sql.session.timeZone=UTC \
#       --conf spark.sql.adaptive.enabled=true \
#       main.py --input <webpages table> --output <sink namespace>
#
# With an Iceberg catalog, additionally:
#   --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
#   --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
#   --conf spark.sql.catalog.lake.type=rest ...
set -euo pipefail
out="$(realpath -m "${1:-$(dirname "$0")/../pipeline.zip}")"
cd "$(dirname "$0")/.."
rm -f "$out"
(cd src && zip -qr "$out" weblog_pipeline -x '*__pycache__*')
echo "wrote $out"
unzip -l "$out" | tail -3
