#!/bin/sh
# Build dist/pipeline.zip for spark-submit --py-files (north_rule packaging).
# Pure-Python package: the zip holds cargo_dupes_spark/ at its root so
# executors and the driver import it directly from the shipped archive.
set -eu
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/pipeline.zip
python - <<'EOF'
import zipfile
from pathlib import Path

root = Path("cargo_dupes_spark")
with zipfile.ZipFile("dist/pipeline.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(root.rglob("*.py")):
        if "__pycache__" in p.parts:
            continue
        # fixed timestamp -> byte-identical archive for identical source
        info = zipfile.ZipInfo(p.as_posix(), date_time=(2020, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o644 << 16
        z.writestr(info, p.read_bytes())
print("wrote dist/pipeline.zip")
EOF
