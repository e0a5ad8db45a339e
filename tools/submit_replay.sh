#!/usr/bin/env bash
# Package the engine as a zip and run the CDC replay via
# `spark-submit --py-files`, the deployment shape the north rule prescribes
# for multi-executor clusters. Locally SPARK_MASTER defaults to
# local[$SPARK_GRAFT_CPUS], which defaults to nproc;
# on a cluster set SPARK_MASTER (or submit through your cluster's conf).
#
# Usage: tools/submit_replay.sh --events <parquet_dir> --workdir <dir> \
#          --out <result.json> [--cores N] [--n-batches K] [--n-buckets B]
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(mktemp -u /tmp/arches_rascoll_etl_spark_XXXXXX).zip"
trap 'rm -f "$ZIP"' EXIT
(cd "$ROOT" && zip -qr "$ZIP" arches_rascoll_etl_spark -x '*__pycache__*')

CORES="${SPARK_GRAFT_CPUS:-$(nproc)}"
exec spark-submit \
  --master "${SPARK_MASTER:-local[$CORES]}" \
  --py-files "$ZIP" \
  "$ROOT/tools/replay_submit_main.py" --cores "$CORES" "$@"
