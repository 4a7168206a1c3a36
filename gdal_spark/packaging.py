"""The ``--py-files`` artifact: this package as one deterministic zip.

Entries are sorted, timestamps pinned, .pyc/caches excluded, so the zip
bytes (and hence cluster deploys) are reproducible for identical source
trees. ``scripts/package_pyfiles.py`` is the command-line front end;
``runtime.ensure_runtime`` ships the same zip to the executors of a
session built elsewhere.
"""

from __future__ import annotations

import os
import zipfile

PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _sources() -> list[tuple[str, str]]:
    """(arcname, path) of every .py file of the package, in walk order."""
    root = os.path.dirname(PKG_DIR)
    out = []
    for dirpath, dirnames, filenames in os.walk(PKG_DIR):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                out.append((os.path.relpath(full, root), full))
    return out


def build_zip(out_zip: str, reuse: bool = False) -> str:
    """Write the package zip to ``out_zip`` and return that path.

    ``reuse=True`` keeps an existing ``out_zip`` that is newer than every
    source file. Raises FileNotFoundError when the package is not a
    source directory (e.g. it was itself imported from a zip)."""
    sources = _sources()
    if not sources:
        raise FileNotFoundError(f"no package sources under {PKG_DIR}")
    if (reuse and os.path.exists(out_zip)
            and os.path.getmtime(out_zip) >= max(
                os.path.getmtime(full) for _, full in sources)):
        return out_zip
    os.makedirs(os.path.dirname(os.path.abspath(out_zip)), exist_ok=True)
    tmp = out_zip + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for arcname, full in sources:
            with open(full, "rb") as f:
                data = f.read()
            # pinned date -> byte-identical zip for identical sources
            info = zipfile.ZipInfo(arcname, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    os.replace(tmp, out_zip)
    return out_zip
