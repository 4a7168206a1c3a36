"""Build the ``--py-files`` artifact: dist/gdal_spark.zip.

The north-rule contract is that the job ships as ``spark-submit
--py-files`` modules only — no cluster-side installs, no per-row Python
beyond the package's own Arrow UDFs.  The zip is built deterministically
by ``gdal_spark.packaging.build_zip``, so identical source trees give
identical bytes.

Usage: python scripts/package_pyfiles.py [out_zip]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gdal_spark.packaging import build_zip  # noqa: E402


def build(out_zip: str | None = None) -> str:
    return build_zip(out_zip or os.path.join(REPO, "dist", "gdal_spark.zip"))


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
