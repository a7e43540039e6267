#!/usr/bin/env bash
# Library packaging smoke: prove the `sbt package` artifact runs the
# README consumer example STANDALONE — plain spark-submit against the
# Spark distribution at /opt/spark, no sbt runtime, no test classpath.
# It runs twice: with executor-local seams, then with durable seams under
# a storage directory set by --conf alone, where the MinHash shingle
# table must land as parquet.
# Usage: scripts/package_smoke.sh [sfDir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"

sbt -batch package >/dev/null
JAR=$(ls -t target/scala-2.13/*.jar | head -1)
echo "[package-smoke] jar: $JAR"

SEAMS=$(mktemp -d)
trap 'rm -rf "$SEAMS"' EXIT

# runs the example with any extra spark-submit args; fails unless it
# completes
run_example() {
OUT=$(/opt/spark/bin/spark-submit \
  --master 'local[4]' \
  --driver-memory 4g \
  --conf spark.ui.enabled=false \
  --conf spark.sql.session.timeZone=UTC \
  "$@" \
  --class graft.examples.ReadmeExample \
  "$JAR" "$SF_DIR" 2>/dev/null)

echo "$OUT" | tail -3
echo "$OUT" | grep -q '\[readme-example\] OK:' \
  || { echo "[package-smoke] FAIL: example did not complete"; exit 1; }
}

run_example
run_example --conf "spark.graft.materialize.storageDir=$SEAMS"
for table in minhash_shingles; do
  part=$(ls "$SEAMS/$table"/*.parquet 2>/dev/null | head -1)
  [[ -n "$part" && "$(head -c 4 "$part")" == PAR1 ]] \
    || { echo "[package-smoke] FAIL: no parquet written for $table"; exit 1; }
  echo "[package-smoke] durable seam: $table"
done
echo "[package-smoke] PASS"
