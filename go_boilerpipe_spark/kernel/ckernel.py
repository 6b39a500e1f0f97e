"""Loader for the compiled kernel hot path (_ckernel.c).

The C extension is an optional accelerator: byte-identical to the pure
Python kernel (gated by tests/test_ckernel_parity.py — golden 7/7 through
both paths plus corpus and fuzz differentials), so any mix of C and pure
workers produces the same output. It exports ``init_tables``, ``parse``,
``extract`` and ``extract_content``; the last two take a resolver that
they call once on a page with ld+json, for the merged headline the
filters match (``document._resolve_title``; the contract is in the
``_ckernel.c`` header).

Load order:
1. ``GO_BP_SPARK_PURE=1`` in the environment disables the C path outright.
2. Normal import of the prebuilt ``_ckernel`` extension module.
3. Running from a --py-files / addPyFile zip (workers on a real cluster):
   the ``.so`` bytes are read out of the zip and extracted to a content-
   addressed temp path, then loaded from there (shared objects cannot be
   dlopen'ed inside a zip).
4. Source build: when gcc and Python headers are available, compile
   ``_ckernel.c`` next to the package once (atomic rename, concurrency
   safe) and import the result.

On any failure the caller gets ``None`` and the pure-Python kernel runs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import subprocess
import sys
import sysconfig
import tempfile

_HERE = os.path.dirname(os.path.abspath(__file__))
_SUFFIX = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
_SO_NAME = "_ckernel" + _SUFFIX
_SRC = os.path.join(_HERE, "_ckernel.c")


def _build_config() -> dict:
    """The shared tables: same objects the pure kernel uses."""
    from html.entities import html5

    from . import handler
    from ._unicode_classes import LETTER_RANGES, NUMERIC_WORD_RANGES
    from .atoms import KNOWN_ATOMS
    from .htmltok import _RAW_TAGS, _RCDATA_TAGS

    return {
        "entities": dict(html5),
        "letter_ranges": LETTER_RANGES,
        "numeric_word_ranges": NUMERIC_WORD_RANGES,
        "go_space": handler.GO_SPACE,
        "tag_actions": dict(handler.TAG_ACTION_MAP),
        "atoms": sorted(KNOWN_ATOMS),
        "raw_tags": sorted(_RAW_TAGS),
        "rcdata_tags": sorted(_RCDATA_TAGS),
        "sbsc_tags": sorted(handler.SHOULD_BE_SELF_CLOSING),
        "block_labels": {
            k: tuple(int(x) for x in v)
            for k, v in handler.BLOCK_TAG_LABELS.items()
        },
    }


def _load_from_path(path: str):
    spec = importlib.util.spec_from_file_location(
        "go_boilerpipe_spark.kernel._ckernel", path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _extract_from_zip():
    """Workers importing the package from a --py-files zip: pull the .so
    bytes out through the zip loader and dlopen from a temp path.

    Hardened against shared-/tmp tenants (ADVICE r3): the extraction dir
    is per-uid and created 0700 (refused if it already exists owned by
    someone else), and a pre-existing .so is only trusted after its
    content re-hashes to the digest of the zip bytes — otherwise it is
    atomically replaced. A planted file therefore can never be dlopened."""
    loader = getattr(sys.modules[__package__], "__loader__", None)
    get_data = getattr(loader, "get_data", None)
    if get_data is None:
        return None
    try:
        data = get_data(os.path.join(_HERE, _SO_NAME))
    except OSError:
        return None
    digest = hashlib.sha256(data).hexdigest()
    uid = os.getuid() if hasattr(os, "getuid") else 0
    out_dir = os.path.join(
        tempfile.gettempdir(), f"gbs_ckernel_u{uid}_{digest[:16]}"
    )
    out = os.path.join(out_dir, _SO_NAME)
    try:
        os.makedirs(out_dir, mode=0o700, exist_ok=True)
        st = os.stat(out_dir)
        if hasattr(os, "getuid") and st.st_uid != uid:
            return None  # pre-created by another local user: do not use
        os.chmod(out_dir, 0o700)
    except OSError:
        return None
    fresh = True
    if os.path.exists(out):
        with open(out, "rb") as fh:
            fresh = hashlib.sha256(fh.read()).hexdigest() != digest
    if fresh:  # absent OR content mismatch: (re-)extract atomically
        tmp = out + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, out)  # atomic; concurrent extractors converge
    return _load_from_path(out)


def build_so(verbose: bool = False) -> str | None:
    """Compile _ckernel.c next to the package (atomic). Returns the .so
    path or None when the toolchain is unavailable / compile fails."""
    out = os.path.join(_HERE, _SO_NAME)
    if os.path.exists(out) and os.path.getmtime(out) >= os.path.getmtime(_SRC):
        return out
    include = sysconfig.get_path("include")
    tmp = out + f".{os.getpid()}.tmp"
    # -O3: ~17% faster than -O2 on the 12k corpus (interleaved medians,
    # both orders), bit-identical output (integer/string kernel, no FP).
    # No -march=native: the .so ships to heterogeneous executors via
    # --py-files.
    cmd = [
        "gcc", "-O3", "-fPIC", "-shared", "-std=c99",
        "-I", include, _SRC, "-o", tmp,
    ]
    try:
        res = subprocess.run(
            cmd, capture_output=True, text=True, timeout=120
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if res.returncode != 0:
        if verbose:
            sys.stderr.write(res.stderr)
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None
    os.replace(tmp, out)  # atomic: concurrent builders converge
    return out


_cached = None
_attempted = False


def load():
    """Return the initialized _ckernel module, or None (pure path)."""
    global _cached, _attempted
    if _attempted:
        return _cached
    _attempted = True
    if os.environ.get("GO_BP_SPARK_PURE"):
        return None
    mod = None
    if os.path.exists(_SRC):
        # rebuild when the source is newer than the .so (no-op when fresh)
        build_so()
    try:
        from . import _ckernel as mod  # prebuilt next to the package
    except ImportError:
        try:
            mod = _extract_from_zip()
        except Exception:
            mod = None
    if mod is not None:
        try:
            mod.init_tables(_build_config())
        except Exception:
            mod = None
    _cached = mod
    return mod
