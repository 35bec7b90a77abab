#!/bin/sh
# Package the engine for spark-submit --py-files.
set -e
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/log_project_spark.zip
python - <<'EOF'
import os, zipfile
with zipfile.ZipFile("dist/log_project_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("log_project_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
print("wrote dist/log_project_spark.zip")
EOF
echo "submit example:"
echo "  spark-submit --master local[2] --py-files dist/log_project_spark.zip jobs/run_pipeline.py --synth-rows 100000 --out-dir /tmp/sinks"
