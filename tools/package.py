#!/usr/bin/env python
"""Build a zip of the gbdc_spark package for spark-submit --py-files.

    python tools/package.py [OUT]    # OUT defaults to dist/gbdc_spark.zip
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out = (os.path.abspath(sys.argv[1]) if len(sys.argv) > 1
           else os.path.join(ROOT, "dist", "gbdc_spark.zip"))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(os.path.join(ROOT, "gbdc_spark")):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)


if __name__ == "__main__":
    main()
