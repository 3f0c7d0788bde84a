#!/usr/bin/env bash
# spark-submit entry (north rule: "runs via spark-submit --py-files on
# multi-executor clusters"). In-sandbox this runs local[N]; on a real
# cluster set MASTER and add --packages for an Iceberg catalog.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/georasters_spark_pkg.zip
rm -f "$ZIP"
zip -qr "$ZIP" georasters_spark

# the session factory's sizing rule (SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM
# override it there)
SIZING=$(python3 -c 'from georasters_spark.session import \
default_cores as c, default_driver_mem as m; n = c(); print(n, m(n))')
read -r CORES DRIVER_MEM <<< "$SIZING"
MASTER="${MASTER:-local[$CORES]}"
exec spark-submit \
  --master "$MASTER" \
  --driver-memory "$DRIVER_MEM" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  "${@:-bench.py}"
