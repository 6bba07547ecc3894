"""Build the spark-submit --py-files artifact.

    python scripts/build_pyfiles.py [out.zip]
    spark-submit --py-files dist/zellige_spark.zip your_job.py

The zip is not committed: build it from the checkout before every
submit, so it never lags the package.  The package is pure Python
(numpy/pandas only at runtime), so one zip is the whole deployment unit
for multi-executor clusters.
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "dist", "zellige_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "zellige_spark")
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    print(f"wrote {out} ({os.path.getsize(out)} bytes)")


if __name__ == "__main__":
    main()
