"""Build and load the native HTML scanner, text walk and canonical JSON
encoder (``htmlscan.c``).

The extension is compiled on first import with the interpreter's own C
compiler settings (``sysconfig``: ``CC``, the include directory and the
extension suffix) as ``CC -O2 -fPIC -shared``.  No packaging step, no
network.  The shared object is cached outside the source tree, under
``$XDG_CACHE_HOME/exstruct_spark`` (default ``~/.cache``), keyed by the
sha256 of the C source plus the interpreter ABI, so a source edit or a
different interpreter gets its own build.  The build writes a temp file
in the cache directory and ``os.replace``-s it into place, so concurrent
first imports (several Spark workers) are safe.  Once cached, importing
costs one hash of the source file.

When no compiler is available or the build fails, ``load()`` returns
``None`` and logs one WARNING on stderr with the reason;
``dom.parse_html`` then runs the pure-Python parser, which builds the
same trees, ``Node.text_content`` the Python text walk, which returns
the same strings, and ``serialize.canonical_json`` its Python
specification, which writes the same text.  ``load()`` builds and loads
once per process; every caller gets the same module.

Prebuild for executor images (run as the user the workers run as)::

    python -m exstruct_spark.kernels.native --build
"""

from __future__ import annotations

import functools
import hashlib
import importlib.machinery
import importlib.util
import logging
import os
import shlex
import shutil
import subprocess
import sys
import sysconfig
import tempfile

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "htmlscan.c")
MODULE = "_htmlscan"

log = logging.getLogger(__name__)


def _abi() -> str:
    return "|".join((sys.implementation.cache_tag or "",
                     sysconfig.get_config_var("SOABI") or "",
                     sysconfig.get_config_var("EXT_SUFFIX") or "",
                     sys.version))


def target_path() -> str:
    """Where the shared object for this source and interpreter lives."""
    with open(SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read() + _abi().encode()).hexdigest()
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    suffix = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
    return os.path.join(cache, "exstruct_spark",
                        f"{MODULE}-{digest[:24]}{suffix}")


def _cc() -> list:
    return shlex.split(sysconfig.get_config_var("CC") or "cc")


def compiler_available() -> bool:
    return shutil.which(_cc()[0]) is not None


def build(target: str) -> None:
    """Compile ``SOURCE`` into ``target``; raises on failure."""
    cc = _cc()
    include = sysconfig.get_paths()["include"]
    os.makedirs(os.path.dirname(target), exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=".build-", suffix=".so",
                               dir=os.path.dirname(target))
    os.close(fd)
    try:
        proc = subprocess.run(
            cc + ["-O2", "-fPIC", "-shared", f"-I{include}", SOURCE,
                  "-o", tmp],
            stdin=subprocess.DEVNULL, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"{cc[0]} exited {proc.returncode}: "
                               f"{proc.stderr.strip()[-2000:]}")
        os.replace(tmp, target)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


@functools.cache
def load():
    """The compiled module, or ``None`` (with one WARNING) when it
    cannot be built or loaded."""
    try:
        target = target_path()
        if not os.path.exists(target):
            build(target)
        loader = importlib.machinery.ExtensionFileLoader(MODULE, target)
        spec = importlib.util.spec_from_file_location(MODULE, target,
                                                      loader=loader)
        module = importlib.util.module_from_spec(spec)
        loader.exec_module(module)
        return module
    except Exception as exc:  # any failure means the Python bodies
        log.warning("native HTML parser unavailable, using the Python "
                    "parser and serializer (identical output): %s: %s",
                    type(exc).__name__, exc)
        return None
