#!/usr/bin/env bash
# Package the engine for spark-submit --py-files.
#   ./scripts/build_pyfiles.sh            -> dist/table_recognition_spark.zip
# Cluster launch (the zip holds no weights: the driver loads --weights,
# G2 or G3, and broadcasts them to the executors):
#   spark-submit --py-files dist/table_recognition_spark.zip \
#       main.py --weights weights/g2_trained_seed42.npz \
#       --docs ... --media ... --out ... --chunks 256
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/table_recognition_spark.zip
python - <<'EOF'
import os, zipfile
with zipfile.ZipFile("dist/table_recognition_spark.zip", "w",
                     zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("table_recognition_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
print("wrote dist/table_recognition_spark.zip")
EOF
