"""A per-user AppCDS archive of the driver JVM's classes, for local sessions.

A cold local session loads about 20,000 classes from Spark's jars: session
start loaded 10,980 (3.8-4.6 s of class-load time) and a first
``q1_pricing_summary`` 9,909 more (2.4-3.2 s), by ``jstat -class``.  A JVM can
write the classes it loaded into a dynamic AppCDS archive when it exits
(``-XX:ArchiveClassesAtExit``), and a later JVM maps them from that archive
(``-XX:SharedArchiveFile``) instead of parsing and verifying them again.

The archive lives in the user's cache (``$XDG_CACHE_HOME`` or ``~/.cache``),
in a 0700 directory of this package, and is reused like pip's cache.  It is
named by a key that hashes the JDK and the driver classpath Spark's launcher
builds (see :func:`_key`), so a new JDK or Spark install gets its own.
A stale match is still safe: with ``-Xshare:auto`` (the default) a JVM that
cannot use an archive loads its classes from the jars.

- With no archive for the key, the driver JVM gets
  ``-XX:ArchiveClassesAtExit=<cache>/<key>.<pid>.part``, where ``<pid>`` is
  the process that launches it.  That process creates the part empty at
  launch, so while it lives other processes run without an archive flag
  (one writer per key), and it waits for the JVM at exit (the dump takes
  several seconds).  So a dead ``<pid>`` means a finished JVM unless the
  process ended without exit handlers (``os._exit``, SIGKILL).  A part is
  also checked to be whole.
- A later engine import, or session build, renames a finished part to
  ``<key>.jsa``.
- With a whole archive, the JVM gets ``-XX:SharedArchiveFile=<key>.jsa``.

The JDK refuses a non-empty directory on an archived classpath, and Spark's
launcher puts the conf dir there.  A conf dir that holds only ``*.template``
files (a fresh install) is replaced, around the JVM launch only, by an empty
directory in the cache; a conf dir with any real file means no archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import stat
import struct
import subprocess
import zlib

from .tmputil import _pid_alive

_ARCHIVE = re.compile(r"([0-9a-f]{20})\.jsa")
_PART = re.compile(r"([0-9a-f]{20})\.(\d+)\.part")
_OPTS = "spark.driver.extraJavaOptions"
# a user who chose any class-sharing flag keeps exactly their options
_USER_SHARING = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")
_OUR_FLAG = re.compile(r"-XX:(SharedArchiveFile|ArchiveClassesAtExit)=(\S+)")
# JDK unified logging writes warnings to stdout, and a dump warns once per
# skipped class ("Skipping org/codehaus/janino/...: Signed JAR"): keep CDS
# messages off stdout and let only errors through, on stderr
_QUIET = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
# Environment variables whose entries Spark's launcher appends to the
# driver classpath, after the conf dir and $SPARK_HOME/jars/*
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# ...and those whose JVM options reach the driver JVM
_JVM_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")

# A part must hold more than a session start's classes, or a process that
# only starts and stops a session would freeze an archive that cuts start
# but not the first query.  The class count is not in the header; the size
# tracks it.  Measured (JDK 17.0.20, Spark 4.1.2, local[4], classes as
# -XX:+PrintSharedArchiveAndExit lists them): start and stop only, 10,447
# classes in 100-102 MB; start plus one q1_pricing_summary, 16,407 classes
# in 167 MB.
_MIN_ARCHIVE_BYTES = 128 << 20

# JDK 17's archive header (CDS archive version 11): magic, header CRC and
# version, then 7 region records of 72 bytes with the file offset and used
# size at +24 and +40, then the header size (u64 at 520).  The JVM writes
# the regions first and the header last (ArchiveBuilder::write_archive), so
# a dump cut short has no header.  A JVM maps regions past the end of a
# truncated file and dies of SIGBUS, hence the extent check.  Another JDK's
# layout is unchecked, so its archives are never used.
_MAGIC = 0xF00BABA8
_VERSION = 11
_REGIONS = 7

# A dynamic dump took 5 s (start only), 9 s (after one q1) and 14 s (after a
# perfbench `batch` run) on a 4-CPU VM
_DUMP_WAIT_S = 120

_dumping: list[subprocess.Popen] = []  # driver JVMs this process launched with a dump flag


def cache_dir(create: bool = True) -> str | None:
    """This user's private archive directory, or None when it is unusable:
    a symlink, another user's, or open to group or others."""
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):  # the XDG spec ignores a relative path
        root = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(root, "gcp_cloudsql_to_bigquery_spark")
    try:
        if create:
            os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o077:
        return path
    return None


def _whole(path: str) -> bool:
    """Whether ``path`` is a complete archive: a header with a valid CRC
    whose regions all lie inside the file."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(4096)
            size = os.fstat(fh.fileno()).st_size
    except OSError:
        return False
    if len(head) < 528:
        return False
    magic, crc, version = struct.unpack_from("<IiI", head)
    (header_size,) = struct.unpack_from("<Q", head, 520)
    if magic != _MAGIC or version != _VERSION or not 528 <= header_size <= len(head):
        return False
    if zlib.crc32(head[8:header_size]) != crc & 0xFFFFFFFF:
        return False
    for i in range(_REGIONS):
        offset, used = struct.unpack_from("<Q8xQ", head, 16 + 72 * i + 24)
        if offset + used > size:
            return False
    return True


def promote(cache: str | None) -> None:
    """Rename each finished part to its key's archive, and remove the
    parts that cannot be promoted: cut short, too small, or beaten by
    another part of the same key.  A part whose process is alive is left."""
    try:
        names = os.listdir(cache) if cache else []
    except OSError:
        return
    for name in names:
        m = _PART.fullmatch(name)
        if m is None or _pid_alive(int(m.group(2))):
            continue
        part = os.path.join(cache, name)
        archive = os.path.join(cache, m.group(1) + ".jsa")
        with contextlib.suppress(OSError):
            if (
                not os.path.exists(archive)
                and os.path.getsize(part) >= _MIN_ARCHIVE_BYTES
                and _whole(part)
            ):
                os.replace(part, archive)
            else:
                os.unlink(part)


def _tidy(cache: str, key: str) -> None:
    """Keep one key's archive: remove other keys' archives, and this key's
    if it is not whole (a JVM would die of SIGBUS mapping it)."""
    for name in os.listdir(cache):
        m = _ARCHIVE.fullmatch(name)
        path = os.path.join(cache, name)
        if m is not None and (m.group(1) != key or not _whole(path)):
            with contextlib.suppress(OSError):
                os.unlink(path)


def _launch_conf_dir(cache: str, spark_home: str) -> str | None:
    """The conf dir to launch with: the cache's empty one when Spark's
    holds only templates (or is missing), None when it holds a real file."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    empty = os.path.join(cache, "conf")
    try:
        if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        os.makedirs(empty, mode=0o700, exist_ok=True)
        return None if os.listdir(empty) else empty
    except OSError:
        return None


def _key(conf: dict[str, str], conf_dir: str, spark_home: str) -> str | None:
    """A hash of the JDK (the ``java`` Spark's launcher runs, by realpath,
    and the stat of its ``libjvm.so``) and of the driver classpath the
    launcher builds: the conf dir, each ``$SPARK_HOME/jars`` entry by name,
    size and mtime, the classpath environment variables and
    ``spark.driver.extraClassPath``.  None when the JDK or the jars are not
    found, or when an extra classpath entry is a non-empty directory."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = os.path.join(spark_home, "jars")
    extra = [os.environ.get(v, "") for v in _CLASSPATH_ENV] + [
        conf.get("spark.driver.extraClassPath", "")
    ]
    try:
        st = os.stat(libjvm)
        items: list = [java, st.st_size, st.st_mtime_ns, conf_dir, jars, extra]
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            items += [name, st.st_size, st.st_mtime_ns]
        for entry in os.pathsep.join(extra).split(os.pathsep):
            if entry and os.path.isdir(entry) and os.listdir(entry):
                return None
    except OSError:
        return None
    return hashlib.sha256(repr(items).encode()).hexdigest()[:20]


def archive_options(conf: dict[str, str]) -> dict[str, str]:
    """The ``spark.driver.extraJavaOptions`` that map (or, with no archive
    yet, write) the class archive, merged into the user's; empty when the
    user set a class-sharing flag, the cache is unusable, the conf dir
    holds a real file, or another live process is already writing this
    key's archive."""
    opts = conf.get(_OPTS, "")
    user = [opts, conf.get("spark.driver.defaultJavaOptions", "")]
    user += [os.environ.get(v, "") for v in _JVM_OPTIONS_ENV]
    if _USER_SHARING.search(" ".join(user)):
        return {}
    cache = cache_dir()
    if cache is None or re.search(r"[\s'\"\\]", cache):  # the launcher splits options on spaces
        return {}
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = _launch_conf_dir(cache, spark_home)
    key = conf_dir and _key(conf, conf_dir, spark_home)
    if not key:
        return {}
    try:
        promote(cache)  # leaves only live parts
        _tidy(cache, key)
        names = os.listdir(cache)
    except OSError:
        return {}
    if f"{key}.jsa" in names:
        flag = f"-XX:SharedArchiveFile={os.path.join(cache, key)}.jsa"
    elif any((m := _PART.fullmatch(n)) and m.group(1) == key for n in names):
        return {}  # promote left only live parts: one writer per key
    else:
        flag = f"-XX:ArchiveClassesAtExit={os.path.join(cache, key)}.{os.getpid()}.part"
    return {_OPTS: f"{opts} {flag} {_QUIET}".strip()}


@contextlib.contextmanager
def launching(conf: dict[str, str]):
    """Around the driver JVM's launch: point ``SPARK_CONF_DIR`` at the
    cache's empty conf dir when ``conf`` carries an archive flag of this
    cache, and restore it afterwards.  A JVM launched to write an archive
    gets its part created empty first, and is waited for at exit."""
    from pyspark import SparkContext

    m = _OUR_FLAG.search(conf.get(_OPTS, ""))
    cache = cache_dir(create=False)
    ours = m is not None and cache is not None and os.path.dirname(m.group(2)) == cache
    if SparkContext._gateway is not None or not ours:
        yield
        return
    dump = m.group(1) == "ArchiveClassesAtExit"
    if dump:
        # an empty part marks the writer as alive until the JVM, which
        # removes and rewrites the file at exit, dumps into it
        with contextlib.suppress(OSError):
            os.close(os.open(m.group(2), os.O_WRONLY | os.O_CREAT, 0o600))
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump and SparkContext._gateway is not None:
        _dumping.append(SparkContext._gateway.proc)


def _wait_for_dumps() -> None:
    """End each JVM this process launched to write an archive (it exits
    when its stdin closes) and wait while it dumps; a JVM still running
    after ``_DUMP_WAIT_S`` is killed, and its cut-short part is never
    promoted."""
    from pyspark import SparkContext

    while _dumping:
        proc = _dumping.pop()
        if proc.poll() is not None:
            continue
        # stop the context first: its accumulator server thread would
        # otherwise print an EOFError traceback when the JVM goes away
        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):  # exiting anyway: still wait
                sc.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


atexit.register(_wait_for_dumps)
os.register_at_fork(after_in_child=_dumping.clear)

# the writer of a part may be gone for good (os._exit): promote at import
promote(cache_dir(create=False))
