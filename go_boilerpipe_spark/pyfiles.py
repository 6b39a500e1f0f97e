"""Ship the package to executors (the spark-submit --py-files mechanism).

The extraction kernel runs inside Python workers, which import
``go_boilerpipe_spark`` by name; on a real cluster the package ships via
``spark-submit --py-files dist/go_boilerpipe_spark.zip``. For sessions we
don't control (the driver harness creates its own SparkSession), we attach
the same zip at runtime with ``sc.addPyFile`` — idempotent per context.
"""

from __future__ import annotations

import os
import py_compile
import tempfile
import zipfile
from pathlib import Path

_ATTACHED: set[int] = set()
_PKG_ROOT = Path(__file__).resolve().parent


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile: sources, the compiled
    kernel (.so — workers extract it from the zip to a temp path, see
    kernel/ckernel.py), and the C source (so a worker on a different
    platform can rebuild instead of silently falling back).

    Each ``name.py`` gets a ``name.pyc`` beside it, where zipimport looks
    for bytecode (not in ``__pycache__/``): zipimport writes no bytecode
    cache, so without it every worker compiles each module it imports.
    The ``.pyc`` is unchecked-hash, so no source stamp is compared; a
    worker whose Python has another bytecode magic number skips it and
    compiles the ``.py``."""
    dest = dest or os.path.join(
        tempfile.gettempdir(), f"go_boilerpipe_spark_{os.getpid()}.zip"
    )
    patterns = ("*.py", "*.c", "_ckernel*.so")
    with tempfile.TemporaryDirectory() as tmp, \
            zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for pat in patterns:
            for p in sorted(_PKG_ROOT.rglob(pat)):
                rel = Path("go_boilerpipe_spark") / p.relative_to(_PKG_ROOT)
                zf.write(p, str(rel))
                if p.suffix == ".py":
                    pyc = py_compile.compile(
                        str(p), cfile=os.path.join(tmp, "m.pyc"),
                        dfile=os.path.join(dest, rel), doraise=True,
                        invalidation_mode=py_compile.PycInvalidationMode
                        .UNCHECKED_HASH)
                    zf.write(pyc, str(rel.with_suffix(".pyc")))
    return dest


def ensure_shipped(spark) -> None:
    """Attach the package zip to the session's SparkContext once."""
    sc = spark.sparkContext
    key = id(sc._jsc) if sc._jsc is not None else id(sc)
    if key in _ATTACHED:
        return
    sc.addPyFile(build_pyfiles_zip())
    _ATTACHED.add(key)
