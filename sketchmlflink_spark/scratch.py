"""Where a query writes its scratch files and its derived inputs.

Every directory a query writes goes through one of two functions:

- ``scratch_dir(kind)`` — a new empty directory for one build's output,
  state or checkpoint. It lives under the process root
  ``<tmp>/sketchmlflink_<pid>``, which is removed when the process
  exits. A killed process never runs its exit handlers, so making a
  root first removes the roots of processes that no longer run. A new
  directory replaces the one of the same kind that the calling thread
  made before, as a rebuild overwrites its output: a process that builds
  a query over and over holds one copy per thread.
- ``derived_dir(kind, sf_dir, table, build)`` — an input derived from a
  source table (a fixture in another format, a replay split), shared by
  every process and kept across runs. Its name carries the source
  table's fingerprint, so a regenerated table gets a new directory and
  the stale ones are pruned. ``build`` fills a private scratch
  directory that is then published with one ``os.rename``: a derived
  directory that exists is complete.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading

_ROOT_PREFIX = "sketchmlflink_"
_DERIVED = "sketchmlflink_derived"

_roots: set[str] = set()  # the roots this process made
_roots_lock = threading.Lock()
_latest: dict[tuple[str, int], str] = {}  # (kind, thread) -> its newest dir


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's process
    return True


def _remove_root(root: str, pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the handler, not the root
        shutil.rmtree(root, ignore_errors=True)


def _process_root() -> str:
    pid = os.getpid()
    tmp = tempfile.gettempdir()
    root = os.path.join(tmp, f"{_ROOT_PREFIX}{pid}")
    with _roots_lock:
        if root not in _roots:
            for name in os.listdir(tmp):
                owner = name[len(_ROOT_PREFIX):]
                if name.startswith(_ROOT_PREFIX) and owner.isdigit() and not _running(int(owner)):
                    shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            os.makedirs(root, exist_ok=True)
            atexit.register(_remove_root, root, pid)
            _roots.add(root)
    return root


def scratch_dir(kind: str) -> str:
    """A new empty directory named ``<kind>…`` under the process root;
    this thread's previous directory of that kind is removed."""
    d = tempfile.mkdtemp(prefix=kind, dir=_process_root())
    old = _latest.get((kind, threading.get_ident()))
    _latest[(kind, threading.get_ident())] = d
    if old:
        shutil.rmtree(old, ignore_errors=True)
    return d


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Short digest of a source table's on-disk identity (paths, sizes
    and mtimes of every file under it)."""
    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    h = hashlib.sha256()
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(root)
            for f in fs
        )
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def derived_dir(kind: str, sf_dir: str, table: str, build) -> str:
    """The directory ``build(d)`` fills from ``<sf_dir>/<table>.parquet``,
    built once per version of that table. Two processes that race both
    build; the first rename publishes and the other uses that copy."""
    parent = os.path.join(tempfile.gettempdir(), _DERIVED)
    stem = f"{kind}_{table}_" + os.path.abspath(sf_dir).strip("/").replace("/", "_")
    name = f"{stem}_{_source_fingerprint(sf_dir, table)}"
    final = os.path.join(parent, name)
    if os.path.isdir(final):
        return final
    os.makedirs(parent, exist_ok=True)
    for other in os.listdir(parent):
        if other.rpartition("_")[0] == stem and other != name:
            shutil.rmtree(os.path.join(parent, other), ignore_errors=True)
    tmp = scratch_dir(f"{kind}_")
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone already when published
    return final


def stream_dir_for(sf_dir: str, table: str) -> str:
    """The streaming file source reads directories, and the fixture
    tables are single parquet files in a read-only tree: expose
    ``<sf_dir>/<table>.parquet`` as a directory holding a symlink to it
    (a real deployment points at the ingest directory)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    return derived_dir(
        "src", sf_dir, table,
        lambda d: os.symlink(path, os.path.join(d, os.path.basename(path))),
    )
