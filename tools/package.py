"""Build dist/pdf_parser_spark.zip for spark-submit --py-files: the
package's modules plus its JSON model artifacts."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "pdf_parser_spark.zip")
    pkg = os.path.join(REPO, "pdf_parser_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
