"""Build and load the native core (``_native.c``) on first import.

The core holds seven entry points: ``NodeStore``, the type of
``DocBuilder.nodes`` (a sequence of node structs that the scan fills, each
read as its 21-slot record, built on the first read: indexing, ``len``,
iteration and ``append``, and no slices, assignment or comparison),
``scan``, the parse core behind ``parser.parse`` (tree and table repair
and the ``charset=`` sniff included), ``examine_table``, its table repair
on its own, ``census``, the element counts of a ``NodeStore`` at the end
of a parse, ``density``, the walk behind ``extract(strip="density")`` over
a ``NodeStore``, ``token_count``, the kernel's ``len(text.split())``, and
``page``, the extract kernel's row for a decoded page in one call (scan,
with parse()'s charset hook, census, density, line and token count on a
store of its own; None when the scan stops at a hand-off or at the hook's
stop).  Python keeps the reference for each:
a plain list of records, the general machine,
``DocBuilder._examine_table``, ``DocBuilder.count_unclosed_flat``, the
Python density loop, ``str.split`` and ``decode_parse`` + ``extract``.

The C source ships inside the package, so a ``--py-files`` zip carries it
too: it is read through ``importlib.resources`` and compiled with the
interpreter's own ``sysconfig`` compiler and include path into a per-user
cache keyed by the source hash and the extension suffix.  One host builds
it once: the build runs under a file lock and lands by atomic rename, so
concurrent workers wait for it instead of compiling again.

Without a working compiler (or Python headers) or a writable home
directory ``load()`` returns None: ``DocBuilder.nodes`` is a list, the
parser keeps to its Python general machine, ``extract()`` to its Python
density loop and the extract kernel to ``decode_parse`` + ``extract``.
"""

from __future__ import annotations

import fcntl
import functools
import hashlib
import importlib.resources
import os
import shlex
import subprocess
import sysconfig
import tempfile
import warnings
from importlib.machinery import ExtensionFileLoader
from importlib.util import module_from_spec, spec_from_loader

__all__ = ["load", "compile_command"]


def _cache_dir() -> str:
    """The per-user build cache, outside any checkout.  Only the home
    directory qualifies: a shared directory such as /tmp would let another
    user plant the library first."""
    home = os.path.expanduser("~")
    if not os.access(home, os.W_OK):
        raise OSError(f"home directory {home!r} is not writable")
    return os.path.join(home, ".cache", "fortissimo_spark")


def compile_command(c_path: str, so_path: str, *flags: str) -> list:
    """The command that builds ``c_path`` into the extension ``so_path``
    with the interpreter's own compiler and include path, plus ``flags``."""
    cc = shlex.split(sysconfig.get_config_var("CC") or "cc")
    include = sysconfig.get_paths()["include"]
    return cc + ["-O2", "-shared", "-fPIC", "-I", include, *flags, c_path,
                 "-o", so_path]


def _build(src: bytes, out: str) -> None:
    with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as tmp:
        c_path = os.path.join(tmp, "_native.c")
        so_path = os.path.join(tmp, os.path.basename(out))
        with open(c_path, "wb") as f:
            f.write(src)
        subprocess.run(compile_command(c_path, so_path), check=True,
                       capture_output=True)
        os.replace(so_path, out)


@functools.cache
def load():
    """The compiled ``_native`` module, building it if the cache lacks it;
    None when it cannot be built.  A process loads it once: the parser and
    ``dom.DocBuilder`` share the one module."""
    try:
        src = importlib.resources.files(__package__).joinpath(
            "_native.c").read_bytes()
        suffix = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
        key = hashlib.sha256(src + suffix.encode()).hexdigest()[:16]
        directory = _cache_dir()
        path = os.path.join(directory, f"_native_{key}{suffix}")
        if not os.path.exists(path):
            os.makedirs(directory, mode=0o700, exist_ok=True)
            with open(path + ".lock", "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                if not os.path.exists(path):
                    _build(src, path)
        loader = ExtensionFileLoader(f"{__package__}._native", path)
        module = module_from_spec(spec_from_loader(loader.name, loader))
        loader.exec_module(module)
        return module
    except (OSError, ImportError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", b"") or b""
        warnings.warn(f"native core unavailable, using the Python parser "
                      f"and extract loop: {e} "
                      f"{detail.decode(errors='replace')[-500:]}")
        return None
