#!/usr/bin/env python
"""Package the engine for ``spark-submit --py-files``.

Builds a zip of amharic_ecommerce_data_extractor_spark/ suitable for
shipping to executors:

    python scripts/package_pyfiles.py dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        scripts/run_pipeline_cluster.py --workdir s3://bucket/kg \\
        --input <parquet>

(the module entry ``python -m amharic_ecommerce_data_extractor_spark.plans.
pipeline`` is the local/driver-side equivalent).
"""

from __future__ import annotations

import os
import sys
import zipfile

PKG = "amharic_ecommerce_data_extractor_spark"


def build(out_path: str) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.dirname(os.path.abspath(out_path)) or ".", exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(os.path.join(root, PKG)):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, root))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else "dist/engine.zip")
