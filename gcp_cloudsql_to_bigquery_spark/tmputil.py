"""One private temp home per process for every engine temp tree.

Every scratch tree the engine writes (ELT exports and staging trees, stream
checkpoints, watch dirs and sinks, the Derby database dir, the dedup
fingerprint index, the Python-channel sockets) is allocated by
:func:`tmp_dir` inside this process's *home*: a 0700 directory named
``sg<pid>_XXXXXXXX`` directly under a root.  The roots are the temp root,
``/dev/shm`` for stream checkpoints and ``/tmp`` for socket paths too long
under the temp root.  A home is made lazily, once per root, and made again
when something outside the engine has removed it.

Cleanup needs no record of what was allocated, because a home's name says
whose it is:

- at exit, an atexit hook removes this process's homes;
- a process that never reaches atexit (SIGKILL, ``os._exit``) leaves its
  homes behind, and every new engine process removes them at import
  (:func:`reap_stale_tmp`).  Only a real directory of this user's with a
  home's name, no group or other permission bits and a PID that is neither
  this process nor alive is removed.  Liveness, not age, decides: a
  concurrent process never loses a tree, and a recycled PID only defers
  the reap.

Call sites still remove a tree with ``shutil.rmtree`` as soon as nothing
reads it; a tree that a returned DataFrame reads lazily stays until exit.
A forked child starts with no homes, so it neither reuses nor removes its
parent's.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import stat
import tempfile

# "sg" + PID + "_" is at most 10 characters for any PID up to 4194304 (the
# kernel's pid_max ceiling); mkdtemp appends 8 characters of this alphabet
_HOME_NAME = re.compile(r"sg(\d+)_[a-z0-9_]{8}")

# where a short home lives when the temp root's path is too long for a socket
_SHORT_ROOT = "/tmp"

_homes: dict[str, str] = {}  # root -> this process's home under it


def home(root: str | None = None) -> str:
    """This process's private home under ``root`` (default: the temp root)."""
    root = root or tempfile.gettempdir()
    path = _homes.get(root)
    if path is None or not os.path.isdir(path):
        path = _homes[root] = tempfile.mkdtemp(prefix=f"sg{os.getpid()}_", dir=root)
        os.chmod(path, 0o700)  # mkdtemp's mode is 0700 less the umask
    return path


def tmp_dir(prefix: str, root: str | None = None) -> str:
    """A new directory inside this process's home under ``root``: the only
    way package code should allocate a temp tree."""
    return tempfile.mkdtemp(prefix=prefix, dir=home(root))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by someone else
    return True


def reap_stale_tmp() -> list[str]:
    """Remove the homes of dead processes under every root; return their
    paths.  An entry that is a symlink, is not this user's, or that group or
    others could have written into is never removed."""
    removed = []
    for root in dict.fromkeys((tempfile.gettempdir(), "/dev/shm", _SHORT_ROOT)):
        try:
            names = os.listdir(root)
        except OSError:
            continue
        for name in names:
            m = _HOME_NAME.fullmatch(name)
            if m is None:
                continue
            pid = int(m.group(1))
            if pid == os.getpid() or _pid_alive(pid):
                continue
            path = os.path.join(root, name)
            try:
                st = os.lstat(path)
            except OSError:
                continue
            if stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o077:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
    return removed


def _remove_homes() -> None:
    while _homes:
        shutil.rmtree(_homes.popitem()[1], ignore_errors=True)


atexit.register(_remove_homes)
os.register_at_fork(after_in_child=_homes.clear)

# every new engine process is the janitor for dead ones
reap_stale_tmp()
