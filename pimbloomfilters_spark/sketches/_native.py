"""Loader for the fused Bloom kernel (``bloom_kernel.c``): insert, probe,
shard counts and popcount.

The kernel is compiled on first use, never at import, with
``cc -O3 -fPIC -shared`` and no ``-march=native`` (executors may run on
other CPUs than the driver), then loaded through ``ctypes``, whose calls
release the GIL. The library is cached in a per-user ``0700`` directory
under the name blake2b(source, compiler, platform), published atomically
(tmp + ``os.replace``). A cached file or directory that is not owned by
this user, or is group- or world-writable, is refused.

Any failure to compile, check or load selects the numpy path in
``bloom.py``; the reason is logged once as a WARNING. Either way one INFO
line per process names the kernel that runs.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import platform
import shutil
import stat
import subprocess
import sys
import threading

import numpy as np

log = logging.getLogger("pimbloomfilters_spark")

_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bloom_kernel.c")
_LOCK = threading.Lock()
_STATE: dict[str, object] = {}  # "lib": CDLL or None once resolved


class KernelUnavailable(RuntimeError):
    """The native kernel cannot be used here; the message says why."""


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "pimbloomfilters_spark")


def _source() -> bytes:
    with open(_SOURCE, "rb") as f:
        return f.read()


def _library_path(cc: str, src: bytes) -> str:
    """Cache path of the library ``cc`` builds from ``src``."""
    version = subprocess.run([cc, "--version"], capture_output=True,
                             check=True, timeout=60).stdout
    tag = f"{sys.platform}-{platform.machine()}".encode()
    key = hashlib.blake2b(b"\0".join([src, version, tag]),
                          digest_size=16).hexdigest()
    return os.path.join(_cache_dir(), f"bloom_kernel_{key}.so")


def _check_private(path: str, is_dir: bool = False) -> None:
    """Raise unless ``path`` is this user's own regular file (or directory)
    and is not group- or world-writable."""
    st = os.lstat(path)
    if not (stat.S_ISDIR if is_dir else stat.S_ISREG)(st.st_mode):
        raise KernelUnavailable(f"refusing {path}: not a regular "
                                f"{'directory' if is_dir else 'file'}")
    if st.st_uid != os.getuid():
        raise KernelUnavailable(
            f"refusing {path}: owned by uid {st.st_uid}, not {os.getuid()}")
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise KernelUnavailable(
            f"refusing {path}: group- or world-writable "
            f"(mode {stat.S_IMODE(st.st_mode):o})")


def _compile(cc: str, src: bytes, path: str) -> None:
    """Compile ``src`` into ``path``, published atomically: concurrent
    compiles each write their own tmp file and the last rename wins."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        done = subprocess.run(
            [cc, "-O3", "-fPIC", "-shared", "-x", "c", "-", "-o", tmp],
            input=src, capture_output=True, timeout=300)
        if done.returncode:
            err = done.stderr.decode(errors="replace").strip().splitlines()
            raise KernelUnavailable(
                f"{cc} failed ({done.returncode}): {err[0] if err else ''}")
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _load() -> ctypes.CDLL:
    cc = shutil.which("cc")
    if cc is None:
        raise KernelUnavailable("no C compiler (cc) on PATH")
    src = _source()
    path = _library_path(cc, src)
    d = os.path.dirname(path)
    os.makedirs(d, mode=0o700, exist_ok=True)
    _check_private(d, is_dir=True)
    if not os.path.exists(path):
        _compile(cc, src, path)
    _check_private(path)
    lib = ctypes.CDLL(path)
    u64 = np.ctypeslib.ndpointer(np.uint64, ndim=1, flags="C_CONTIGUOUS")
    i32 = np.ctypeslib.ndpointer(np.int32, ndim=1, flags="C_CONTIGUOUS")
    i64 = np.ctypeslib.ndpointer(np.int64, ndim=1, flags="C_CONTIGUOUS")
    words = np.ctypeslib.ndpointer(np.uint64, ndim=2, flags="C_CONTIGUOUS")
    out = np.ctypeslib.ndpointer(np.bool_, ndim=1, flags="C_CONTIGUOUS")
    c_i64, c_int = ctypes.c_int64, ctypes.c_int
    # keys, n, seed, k, block_log2, nblock_log2, shard_bits, slot_of,
    # words, slot_words
    geometry = [u64, c_i64, ctypes.c_uint64, c_int, c_int, c_int, c_int, i32,
                words, c_i64]
    lib.pbf_insert.argtypes = geometry
    lib.pbf_insert.restype = c_i64
    lib.pbf_contains.argtypes = geometry + [out]
    lib.pbf_contains.restype = c_i64
    lib.pbf_shard_counts.argtypes = [u64, c_i64, ctypes.c_uint64, c_int, i64]
    lib.pbf_shard_counts.restype = None
    lib.pbf_popcount.argtypes = [u64, c_i64]
    lib.pbf_popcount.restype = c_i64
    return lib


def kernel() -> ctypes.CDLL | None:
    """The loaded native kernel, or None when the numpy path must run.
    Resolved once per process."""
    if "lib" in _STATE:
        return _STATE["lib"]  # type: ignore[return-value]
    with _LOCK:
        if "lib" not in _STATE:
            try:
                lib = _load()
                log.info("bloom kernel: native (%s)", lib._name)
            except (OSError, subprocess.SubprocessError, KernelUnavailable) as e:
                lib = None
                log.warning("bloom kernel: numpy fallback, native kernel "
                            "unavailable: %s", e)
                log.info("bloom kernel: numpy")
            _STATE["lib"] = lib
    return _STATE["lib"]  # type: ignore[return-value]


def kernel_name() -> str:
    """``"native"`` or ``"numpy"``: the Bloom kernel this process runs."""
    return "numpy" if kernel() is None else "native"
