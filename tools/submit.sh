#!/usr/bin/env bash
# spark-submit packaging for a real multi-executor cluster (the north rule's
# `spark-submit --py-files` deployment path). In this sandbox the same code
# runs on local[N]; on a cluster, point --master at YARN/K8s and size
# executors normally.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

ZIP="${TMPDIR:-/tmp}/coco_search_spark.zip"
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w', zipfile.ZIP_DEFLATED) as z:
    for root, dirs, files in os.walk('coco_search_spark'):
        dirs[:] = [d for d in dirs if d != '__pycache__']
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
print('packaged', '$ZIP')
"

CPUS="${SPARK_GRAFT_CPUS:-32}"
# the session settings come from coco_search_spark.session.SESSION_CONF,
# the dict get_spark applies, so both entry points run the same session
CONF_LINES="$(python -c "
import sys
from coco_search_spark.session import SESSION_CONF
conf = {**SESSION_CONF, 'spark.sql.shuffle.partitions': sys.argv[1]}
for k, v in conf.items():
    print('--conf')
    print(f'{k}={v}')
" "$CPUS")"
mapfile -t CONF <<<"$CONF_LINES"
exec spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "${SPARK_GRAFT_DRIVER_MEM:-48g}" \
  "${CONF[@]}" \
  --py-files "$ZIP" \
  tools/submit_job.py "$@"
