"""Build/load shim for the C parse accelerator (engine/_native.c).

The C module is a performance twin of tokenize+DOMBuilder for the DEFAULT
option set (guide: do the heavy lifting in native code inside the UDF).
It is strictly optional: if a C toolchain is unavailable, the build or
import fails, or ``HTMLD_SPARK_NATIVE=0`` is set, ``get_native()`` returns
None and the engine runs the pure-Python path unchanged — no correctness
or deployment dependency on gcc.

Build model: compiled once per interpreter ABI into a per-user cache dir
keyed by the source hash (content-addressed, so editing _native.c
invalidates stale builds), guarded by an exclusive lock file so that a
local[32] worker fleet importing concurrently compiles exactly once. The
source is read as a package resource, so a ``--py-files`` zip that ships
it (tools/package_pyfiles.py) builds the same module.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig
from importlib import resources

_native = None
_tried = False


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "htmld_spark")


def _build(so_path: str, src: bytes) -> bool:
    """Compile the C source ``src`` → so_path (atomic rename). Returns
    success."""
    inc = sysconfig.get_paths()["include"]
    tmp = f"{so_path}.tmp.{os.getpid()}"
    src_path = f"{tmp}.c"
    cmd = [
        "gcc", "-O2", "-fPIC", "-shared", f"-I{inc}", src_path, "-o", tmp,
    ]
    try:
        with open(src_path, "wb") as f:
            f.write(src)
        r = subprocess.run(
            cmd, capture_output=True, timeout=120, check=False
        )
        if r.returncode != 0:
            return False
        os.replace(tmp, so_path)
        return True
    except Exception:
        return False
    finally:
        for path in (tmp, src_path):
            try:
                if os.path.exists(path):
                    os.unlink(path)
            except OSError:
                pass


def _load(so_path: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location("_htmld_native", so_path)
    if spec is None or spec.loader is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def get_native():
    """The loaded C module, or None (pure-Python fallback). Never raises."""
    global _native, _tried
    if _tried:
        return _native
    _tried = True
    if os.environ.get("HTMLD_SPARK_NATIVE", "1") == "0":
        return None
    try:
        src = resources.files(__package__).joinpath("_native.c").read_bytes()
        src_hash = hashlib.sha256(src).hexdigest()[:16]
        tag = f"{src_hash}-cp{sys.version_info.major}{sys.version_info.minor}"
        try:
            d = _cache_dir()
            os.makedirs(d, exist_ok=True)
        except OSError:
            import tempfile

            d = os.path.join(tempfile.gettempdir(), "htmld_spark")
            os.makedirs(d, exist_ok=True)
        so_path = os.path.join(d, f"_htmld_native-{tag}.so")
        if not os.path.exists(so_path):
            # one builder per host: exclusive lock, others wait then load
            import fcntl

            lock_path = so_path + ".lock"
            with open(lock_path, "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    if not os.path.exists(so_path) and not _build(so_path, src):
                        return None
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)
        _native = _load(so_path)
    except Exception:
        _native = None
    return _native
