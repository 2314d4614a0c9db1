"""Build dist/htmld_spark.zip for spark-submit --py-files: the package's
Python modules plus the C engine's source, which workers compile on first
use (htmld_spark/engine/native.py)."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "htmld_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, files in os.walk(os.path.join(REPO, "htmld_spark")):
            if "__pycache__" in base:
                continue
            for f in files:
                if f.endswith(".py") or f == "_native.c":
                    full = os.path.join(base, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
