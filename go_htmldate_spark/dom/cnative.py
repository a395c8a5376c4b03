"""Build-and-load for the _cdom C kernel, the one product DOM.

_cdom.c is read through the package loader, so one code path serves a
source checkout and a `spark-submit --py-files` zip alike. The
extension is compiled with the system C compiler (`CC`, default gcc)
into a per-user cache ($XDG_CACHE_HOME, else ~/.cache, under
go_htmldate_spark/). The file name carries a hash of the source and
the interpreter: an edited source or another Python gets its own
build, and an unchanged one is never rebuilt.

A C compiler and the Python headers are therefore required wherever
the package is imported (the driver and every executor). A failed
build raises ImportError carrying the compiler command and its stderr;
there is no pure-Python DOM to fall back to. The only per-document
fallback is fastparse.build_tree, for the two inputs the C tokenizer
refuses (tag names of 256+ bytes, lone surrogates).

Concurrent builders (every Spark Python worker importing at once) each
compile to a unique temp file and os.replace() it into place, which is
atomic on POSIX: every loader sees a complete file.
"""

from __future__ import annotations

import hashlib
import importlib.machinery
import importlib.resources
import importlib.util
import os
import shlex
import subprocess
import sys
import sysconfig
import tempfile

_mod: object = None  # None = not loaded yet


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "go_htmldate_spark")


def _build(src: bytes, out: str) -> None:
    include = sysconfig.get_paths()["include"]
    cmd = shlex.split(os.environ.get("CC") or "gcc") + [
        "-O2", "-fPIC", "-shared", f"-I{include}", "-x", "c", "-", "-o",
    ]
    tmp = None
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        fd, tmp = tempfile.mkstemp(suffix=".so", dir=os.path.dirname(out))
        os.close(fd)
        proc = subprocess.run(
            cmd + [tmp], input=src, capture_output=True, timeout=120
        )
        if proc.returncode != 0:
            raise ImportError(
                f"building the C DOM kernel failed (exit {proc.returncode}): "
                f"{shlex.join(cmd + [tmp])}\n"
                f"{proc.stderr.decode(errors='replace')}"
            )
        os.replace(tmp, out)
    except (OSError, subprocess.SubprocessError) as e:
        raise ImportError(
            f"building the C DOM kernel failed: {shlex.join(cmd)}: {e}"
        ) from e
    finally:
        if tmp is not None and os.path.exists(tmp):
            os.unlink(tmp)


def _load() -> object:
    src = importlib.resources.files(__package__).joinpath("_cdom.c").read_bytes()
    key = hashlib.sha256(src + sys.version.encode()).hexdigest()[:16]
    suffix = importlib.machinery.EXTENSION_SUFFIXES[0]
    so = os.path.join(_cache_dir(), f"_cdom-{key}{suffix}")
    if not os.path.exists(so):
        _build(src, so)
    # module name must match the PyInit__cdom export
    spec = importlib.util.spec_from_file_location("_cdom", so)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def get() -> object:
    """The _cdom module, built on first use. Raises ImportError when it
    cannot be built or loaded."""
    global _mod
    if _mod is None:
        _mod = _load()
    return _mod
