"""Build and load the engine's native library, ``_segscan.c``: the first
tier of :func:`~ocr_award_extractor_spark.functions.htmltext.segment_html`.

The C source ships inside the package (``config.build_pyfiles_zip`` zips it
with the ``.py`` files), so a Spark worker that imports the package from a
``--py-files`` zip reads it the same way a checkout does, through
:func:`pkgutil.get_data`. :func:`load` compiles it with the system C
compiler (``gcc -O2 -shared -fPIC``: a plain shared library, no Python
headers) once per source, architecture and flags, into the per-user cache
directory ``~/.cache/ocr_award_extractor_spark``, and loads it with
:mod:`ctypes`. Concurrent builds (a driver and its local workers) each
compile to a unique tmp file and ``os.replace`` it into place.

The library is loaded only from a directory that this uid owns with mode
0700. Anything else at that path (another owner, a symlink, a wider mode)
is removed and the directory made anew; if it cannot be removed, the
library stays off. So does it when there is no compiler or the build or
load fails: :func:`load` then logs one WARNING that names the reason and
returns None, and every document takes the stdlib parser.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import pkgutil
import platform
import shutil
import stat
import subprocess
import uuid

_log = logging.getLogger(__name__)

_SOURCE = "_segscan.c"
_CFLAGS = ("-O2", "-shared", "-fPIC")


def _is_private(st: os.stat_result) -> bool:
    return (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
            and stat.S_IMODE(st.st_mode) == 0o700)


def _cache_dir() -> str:
    """The per-user build directory, made private (owner-only, mode 0700)
    if it is not."""
    path = os.path.join(os.path.expanduser("~"), ".cache", "ocr_award_extractor_spark")
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        st = None
    if st is not None and not _is_private(st):
        # never trusted: another user could have planted a library in it
        if stat.S_ISDIR(st.st_mode):
            shutil.rmtree(path)
        else:
            os.unlink(path)
        st = None
    if st is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.mkdir(path, 0o700)
            os.chmod(path, 0o700)       # mkdir's mode is masked by the umask
        except FileExistsError:         # a concurrent build made it
            pass
        if not _is_private(os.lstat(path)):
            raise PermissionError(f"{path} is not a private directory of this user")
    return path


def _build(source: bytes, lib_path: str) -> None:
    cc = shutil.which("gcc") or shutil.which("cc")
    if cc is None:
        raise FileNotFoundError("no C compiler (gcc or cc) on PATH")
    base = os.path.join(os.path.dirname(lib_path),
                        f".{os.path.basename(lib_path)}-{uuid.uuid4().hex}")
    src, tmp = base + ".c", base + ".tmp"
    try:
        with open(src, "wb") as fh:
            fh.write(source)
        subprocess.run([cc, *_CFLAGS, "-o", tmp, src], check=True,
                       capture_output=True, timeout=300)
        os.replace(tmp, lib_path)
    finally:
        for leftover in (src, tmp):
            if os.path.exists(leftover):
                os.remove(leftover)


def load() -> ctypes.CDLL | None:
    """The native library, its ``segscan`` function typed; None, with one
    WARNING naming the reason, when it cannot be built or loaded."""
    try:
        source = pkgutil.get_data(__package__, _SOURCE)
        if source is None:
            raise FileNotFoundError(f"{_SOURCE} is not readable from the package")
        key = hashlib.sha256(b"\0".join(
            [source, platform.machine().encode(), " ".join(_CFLAGS).encode()]))
        lib_path = os.path.join(_cache_dir(), f"segscan-{key.hexdigest()[:24]}.so")
        if not os.path.exists(lib_path):
            _build(source, lib_path)
        lib = ctypes.CDLL(lib_path)
        lib.segscan.argtypes = [ctypes.c_char_p, ctypes.c_long, ctypes.c_int,
                                ctypes.c_void_p, ctypes.c_long]
        lib.segscan.restype = ctypes.c_long
        return lib
    except subprocess.CalledProcessError as e:
        reason = f"{e.cmd[0]} failed: {e.stderr.decode(errors='replace')[-500:]}"
    except (OSError, subprocess.SubprocessError, AttributeError) as e:
        reason = f"{type(e).__name__}: {e}"
    _log.warning("native library disabled: every document takes the stdlib "
                 "HTML parser; %s", reason)
    return None
