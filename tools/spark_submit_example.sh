#!/usr/bin/env bash
# Cluster deployment of the pipeline (the north rule's spark-submit
# --py-files path). get_spark() addPyFile's the package zip in local runs;
# on a cluster the same zip ships via --py-files so executors can import
# the package inside pandas/Arrow UDFs.
#
# Build the zip, then submit the CLI entry (same code path the local
# `python -m opentelemetry_collector_contrib_spark.run` exercises):
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/opentelemetry_collector_contrib_spark.zip
rm -f "$ZIP"
python - <<'PY'
import zipfile, pathlib
root = pathlib.Path("opentelemetry_collector_contrib_spark")
with zipfile.ZipFile("/tmp/opentelemetry_collector_contrib_spark.zip", "w") as z:
    for p in sorted(root.rglob("*.py")):
        z.write(p, p.as_posix())
print("zip ready")
PY

# Two cluster sizes for the scaling-efficiency gate (N and 4N executors).
# Without a cluster manager, perfbench/run.py --trace 1 reports the 1-core vs
# all-core scaling of one host instead. On a real cluster:
#
#   for EXECS in 8 32; do
#     spark-submit \
#       --master yarn --deploy-mode cluster \
#       --num-executors "$EXECS" --executor-cores 4 --executor-memory 8g \
#       --conf spark.sql.adaptive.enabled=true \
#       --conf spark.sql.shuffle.partitions=$((EXECS * 8)) \
#       --py-files "$ZIP" \
#       opentelemetry_collector_contrib_spark/run.py \
#       --in-tokens iceberg_catalog.db.tokens --out /data/routed_$EXECS
#   done
#
# Local smoke of the exact submit surface (local master, same zip):
exec spark-submit --master 'local[4]' --py-files "$ZIP" \
  tools/submit_main.py --generate-rows 5000 --out /tmp/routed_submit_smoke
