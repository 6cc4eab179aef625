"""Engine session defaults that a measured cost depends on."""

import pytest


# Spark's own default for spark.sql.codegen.cache.maxEntries
_SPARK_DEFAULT_CLASS_CACHE = 100


def test_warm_reexecution_compiles_no_generated_classes(spark):
    """Spark keeps generated classes in one JVM-wide LRU cache.  A working
    set larger than Spark's 100-entry default is evicted before the next
    execution needs it, so every warm re-run recompiles every class
    (about 10 ms each).  ``session.DEFAULT_CONFS`` sizes the cache above
    the engine's working set.  Here, more than 100 distinct projections
    run twice and the second round must compile nothing.  Calling
    ``executedPlan().execute()`` on these shuffle-free plans compiles each
    whole-stage class without running a job."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = _SPARK_DEFAULT_CLASS_CACHE + 50

    def execute_all() -> int:
        before = compiles.getCount()
        for k in range(n):
            # the literal is inlined into the generated code, so each
            # projection is its own class; a fresh DataFrame per round is a
            # fresh QueryExecution, as in a re-triggered job
            df = spark.range(4).selectExpr(f"id * {k} + 7919 AS x")
            df._jdf.queryExecution().executedPlan().execute()
        return compiles.getCount() - before

    first = execute_all()
    assert first > _SPARK_DEFAULT_CLASS_CACHE  # the set exceeds Spark's default
    assert execute_all() == 0


def _in_one_task(spark, kernel) -> list:
    """Run ``kernel()`` inside one Python task and return its row."""
    import pandas as pd

    def part(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"v": [repr(kernel())]})

    return [r.v for r in spark.range(1).coalesce(1).mapInPandas(part, "v string").collect()]


def test_python_task_rereads_no_unchanged_zip_archive(spark):
    """Every Python task starts with ``importlib.invalidate_caches()``.
    Before CPython 3.13 each zipimporter answers that by re-reading its
    archive's central directory; a Spark worker holds 16 (pyspark.zip,
    py4j, the spark-core jar), about 0.2 s per task.  The engine daemon
    (``pyworker.py``) re-reads an archive only when its stat changed, so a
    warm task reads none."""

    def count_reads() -> int:
        import importlib
        import zipimport

        read = zipimport._read_directory
        n = [0]

        def counting(path):
            n[0] += 1
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return n[0]

    _in_one_task(spark, lambda: None)  # warm the worker
    assert _in_one_task(spark, count_reads) == ["0"]


def test_rewritten_zip_is_reread_on_invalidate(spark):
    """The invalidation contract still holds: a zip rewritten in place
    (same path and inode, new content) is re-read by
    ``importlib.invalidate_caches()``, so its new module imports."""

    def rewrite_and_import() -> int:
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import uuid
        import zipfile

        a, b = (f"zmod_{uuid.uuid4().hex}" for _ in range(2))
        root = tempfile.mkdtemp()
        path = os.path.join(root, "mods.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{a}.py", "X = 1\n")
        sys.path.insert(0, path)
        try:
            ino = os.stat(path).st_ino
            importlib.import_module(a)
            with zipfile.ZipFile(path, "w") as z:  # truncates the same file
                z.writestr(f"{a}.py", "X = 1\n")
                z.writestr(f"{b}.py", "X = 2\n")
            assert os.stat(path).st_ino == ino
            importlib.invalidate_caches()
            return importlib.import_module(b).X
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(a, None)
            sys.modules.pop(b, None)
            shutil.rmtree(root)

    assert _in_one_task(spark, rewrite_and_import) == ["2"]


def _double_in_subprocess(cwd, **env) -> tuple[str, str]:
    """Run ``mapInPandas(double)`` over ``range(3)`` in a fresh process with
    no PYTHONPATH, from ``cwd``; return the session's socket dir and the
    result, as printed."""
    import os
    import subprocess
    import sys

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2,\n"
        "                  extra_conf={'spark.driver.memory': '1g'})\n"
        "print(spark.sparkContext.getConf().get('spark.python.unix.domain.socket.dir'))\n"
        "def double(batches):\n"
        "    for b in batches:\n"
        "        yield b * 2\n"
        "print(sorted(r.id for r in spark.range(3).mapInPandas(double, 'id long').collect()))\n"
        "spark.stop()\n"
    )
    env = {**{k: v for k, v in os.environ.items() if k != "PYTHONPATH"}, **env}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(cwd), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    sock_dir, result = out.stdout.strip().splitlines()[-2:]
    return sock_dir, result


def test_python_tasks_run_from_a_foreign_working_directory(tmp_path):
    """The daemon module is imported by every Python worker, so a session
    built by ``get_spark`` must run Python tasks whatever the working
    directory and with no PYTHONPATH."""
    assert _double_in_subprocess(tmp_path)[1] == "[0, 2, 4]"


def test_python_tasks_talk_to_the_jvm_over_unix_sockets(spark):
    """Over loopback TCP every small Python task stalled ~40 ms on the JVM's
    writes (the delayed-ACK timer).  ``get_spark`` enables Spark's
    Unix-socket mode for a local master, so inside a warm task every socket
    the worker holds is ``AF_UNIX``, and their directory is private to this
    user."""
    import ast
    import os
    import socket
    import stat

    def socket_families() -> list:
        import os
        import socket

        families = []
        for fd in os.listdir("/proc/self/fd"):
            try:
                sock = socket.socket(fileno=int(fd))
            except OSError:
                continue  # not a socket
            families.append(int(sock.family))
            sock.detach()
        return sorted(families)

    _in_one_task(spark, lambda: None)  # warm the worker
    families = ast.literal_eval(_in_one_task(spark, socket_families)[0])
    assert families and set(families) == {int(socket.AF_UNIX)}, families

    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    st = os.stat(sock_dir)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()


@pytest.mark.parametrize("master", [None, "yarn", "spark://host:7077", "k8s://https://host:443"])
def test_only_a_local_master_gets_unix_sockets(master):
    """An executor on another host binds its sockets in its own
    ``java.io.tmpdir``, whose length this process cannot check, so only a
    local master gets the Unix-socket mode and the private socket dir; every
    other master (and ``None``, a master chosen by the deploy) keeps
    loopback TCP.  Checked on the builder confs, without starting a
    session."""
    from gcp_cloudsql_to_bigquery_spark.session import _session_conf, python_socket_dir

    keys = ("spark.python.unix.domain.socket.enabled", "spark.python.unix.domain.socket.dir")
    assert not set(keys) & set(_session_conf(master, 2, None))
    local = _session_conf("local[2]", 2, None)
    assert [local[k] for k in keys] == ["true", python_socket_dir()]


def test_long_temp_root_falls_back_to_a_short_socket_dir(tmp_path):
    """An AF_UNIX path holds at most 107 bytes, and Spark names its sockets
    ``.<uuid4>.sock``.  Under a temp root too long for that, the socket dir
    goes under ``/tmp``; Python tasks still run, and afterwards neither root
    keeps a socket dir or a socket file."""
    import glob
    import os

    from gcp_cloudsql_to_bigquery_spark.tmputil import _HOME_NAME

    long_tmp = tmp_path / ("t" * 80)
    long_tmp.mkdir()
    socks_before = set(glob.glob("/tmp/.*.sock"))
    sock_dir, result = _double_in_subprocess(tmp_path, TMPDIR=str(long_tmp))
    assert result == "[0, 2, 4]"
    assert os.path.dirname(sock_dir) == "/tmp"
    assert not os.path.exists(sock_dir)
    assert [f for _, _, files in os.walk(long_tmp) for f in files if f.endswith(".sock")] == []
    assert not any(_HOME_NAME.fullmatch(name) for name in os.listdir(long_tmp))
    assert set(glob.glob("/tmp/.*.sock")) <= socks_before


@pytest.mark.parametrize("dir_len", [62, 64])
def test_socket_dir_over_sparks_61_char_limit_falls_back(tmp_path, dir_len):
    """Spark refuses a ``spark.python.unix.domain.socket.dir`` longer than
    61 characters and then fails every query of the session, SQL-only ones
    included.  A temp root that puts the dir at 62-64 characters (short
    enough for the 107-byte socket path) sends it to ``/tmp`` instead."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sk", dir="/tmp")
    try:
        # the dir is <temp root>/sg<pid>_ plus 8 characters: dir_len long
        # for a one-digit PID, longer for any real one
        root = os.path.join(base, "t" * (dir_len - len("/sg0_") - 8 - len(base) - 1))
        os.mkdir(root)
        sock_dir, result = _double_in_subprocess(tmp_path, TMPDIR=root)
        assert result == "[0, 2, 4]"
        assert os.path.dirname(sock_dir) == "/tmp"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_socket_dir_limit_is_61_characters(monkeypatch):
    """The socket dir is the temp-root home while that path is at most 61
    characters, and the ``/tmp`` home from 62 on."""
    import os
    import shutil
    import tempfile

    from gcp_cloudsql_to_bigquery_spark.session import python_socket_dir
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    base = tempfile.mkdtemp(prefix="sk", dir="/tmp")
    name_len = len(f"/sg{os.getpid()}_") + 8
    try:
        for dir_len in (61, 62):
            root = os.path.join(base, str(dir_len).ljust(dir_len - name_len - len(base) - 1, "t"))
            os.mkdir(root)
            monkeypatch.setattr(tempfile, "tempdir", root)
            assert len(home()) == dir_len
            expect = home() if dir_len <= 61 else home("/tmp")
            assert python_socket_dir() == expect
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_short_socket_dir_is_reaped_after_a_hard_exit(tmp_path):
    """``perfbench/run.py`` removes its whole temp root and then ends with
    ``os._exit``, so no atexit hook runs.  A socket dir that fell back to
    ``/tmp`` is this process's ``/tmp`` home, named after its PID: the next
    engine process removes it at import, whatever its temp root."""
    import os
    import shutil
    import subprocess
    import sys

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    long_tmp = tmp_path / ("t" * 80)
    long_tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(long_tmp)}

    def run(code: str) -> str:
        script = f"import sys; sys.path.insert(0, {repo_root!r})\n" + code
        out = subprocess.run(
            [sys.executable, "-c", script], env=env,
            capture_output=True, text=True, timeout=120,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout.strip()

    pid, sock_dir, tree = run(
        "from gcp_cloudsql_to_bigquery_spark.session import python_socket_dir\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import os, shutil, tempfile\n"
        "print(os.getpid(), python_socket_dir(), tmp_dir('hard_exit_'), flush=True)\n"
        "shutil.rmtree(tempfile.gettempdir())\n"
        "os._exit(0)\n"
    ).split()
    try:
        assert os.path.dirname(sock_dir) == "/tmp"
        assert os.path.isdir(sock_dir), "os._exit must leave the dir (no atexit)"
        assert not os.path.exists(tree)
        run("import gcp_cloudsql_to_bigquery_spark.tmputil\n")
        assert not os.path.exists(sock_dir)
        assert [n for n in os.listdir("/tmp") if n.startswith(f"sg{pid}_")] == []
    finally:
        shutil.rmtree(sock_dir, ignore_errors=True)


# --- the driver JVM's class archive (jvmcache.py) ---------------------------

_ARCHIVE_OPT = "spark.driver.extraJavaOptions"


def _archive_flag(conf: dict) -> str | None:
    """The archive flag in a conf's driver options, without its path."""
    from gcp_cloudsql_to_bigquery_spark.jvmcache import _OUR_FLAG

    m = _OUR_FLAG.search(conf.get(_ARCHIVE_OPT, ""))
    return m and m.group(1)


@pytest.fixture
def private_cache(tmp_path, monkeypatch):
    """An empty ``XDG_CACHE_HOME``; returns the engine's cache dir in it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return str(tmp_path / "xdg" / "gcp_cloudsql_to_bigquery_spark")


@pytest.mark.parametrize(
    "master, sockets, archive",
    [
        ("local", True, True),
        ("local[2]", True, True),
        ("local-cluster[2,2,1024]", True, False),
        ("yarn", False, False),
        (None, False, False),
    ],
)
def test_archive_confs_only_for_a_single_jvm_master(private_cache, master, sockets, archive):
    """``local-cluster`` runs its executor JVMs on this host as this user,
    so it keeps the Unix-socket channels; the class archive reaches only a
    driver JVM, so only a single-JVM ``local`` master gets it."""
    from gcp_cloudsql_to_bigquery_spark.session import _session_conf

    conf = _session_conf(master, 2, None)
    assert ("spark.python.unix.domain.socket.enabled" in conf) is sockets
    assert (_archive_flag(conf) is not None) is archive


def test_user_driver_options_are_kept_and_their_sharing_flags_win(private_cache):
    """The archive flags are appended to the user's own driver options;
    a user who set any class-sharing flag keeps exactly their options."""
    from gcp_cloudsql_to_bigquery_spark.session import _session_conf

    conf = _session_conf("local[2]", 2, {_ARCHIVE_OPT: "-Dmine=1"})
    assert conf[_ARCHIVE_OPT].startswith("-Dmine=1 -XX:ArchiveClassesAtExit=")
    for mine in ("-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/x.jsa"):
        assert _session_conf("local[2]", 2, {_ARCHIVE_OPT: mine})[_ARCHIVE_OPT] == mine


def test_a_real_file_in_the_conf_dir_disables_the_archive(private_cache, tmp_path, monkeypatch):
    """The JDK refuses a non-empty directory on an archived classpath.  A
    conf dir of templates only is swapped for an empty one at launch; one
    with any real file means no archive."""
    from gcp_cloudsql_to_bigquery_spark import jvmcache

    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert _archive_flag(jvmcache.archive_options({})) == "ArchiveClassesAtExit"
    (conf_dir / "spark-defaults.conf").write_text("")
    assert jvmcache.archive_options({}) == {}


@pytest.mark.parametrize("fault", ["symlink", "other_user", "group_writable", "other_writable"])
def test_an_unsafe_cache_dir_is_neither_used_nor_written(
    private_cache, tmp_path, monkeypatch, fault
):
    """The cache dir must be a real directory of this user's with no group
    or other permission bits; otherwise the session runs without an
    archive and nothing is written there."""
    import os

    from gcp_cloudsql_to_bigquery_spark import jvmcache

    os.makedirs(os.path.dirname(private_cache))
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    if fault == "symlink":
        os.symlink(target, private_cache)
    else:
        os.mkdir(private_cache, 0o700)
        target = private_cache
    if fault == "other_user":
        real = os.getuid()
        monkeypatch.setattr(os, "getuid", lambda: real + 1)
    elif fault != "symlink":
        os.chmod(private_cache, 0o770 if fault == "group_writable" else 0o707)
    key = "0" * 20
    with open(os.path.join(target, f"{key}.jsa"), "wb") as fh:
        fh.write(b"not an archive")
    before = sorted(os.listdir(target))
    assert jvmcache.archive_options({}) == {}
    jvmcache.promote(jvmcache.cache_dir(create=False))
    assert sorted(os.listdir(target)) == before


def test_a_live_writer_keeps_other_processes_off_the_dump(private_cache):
    """A process that launches a dumping JVM holds an empty part from the
    launch to its exit.  While that process lives, another one gets no
    archive flag instead of dumping the same key again; a dead process's
    empty part is removed."""
    import os

    from gcp_cloudsql_to_bigquery_spark import jvmcache

    opts = jvmcache.archive_options({})[_ARCHIVE_OPT]
    part = jvmcache._OUR_FLAG.search(opts).group(2)
    open(part, "w").close()  # as launching() leaves it; this process is alive
    assert jvmcache.archive_options({}) == {}
    os.unlink(part)
    dead = part.replace(f".{os.getpid()}.part", f".{_dead_pid()}.part")
    open(dead, "w").close()
    assert _archive_flag(jvmcache.archive_options({})) == "ArchiveClassesAtExit"
    assert not os.path.exists(dead)


def _run_engine(code: str, cache_home, timeout: int = 300) -> list[str]:
    """Run ``code`` in a fresh process (so a cold JVM) with the engine
    importable and ``XDG_CACHE_HOME`` at ``cache_home``; return its stdout
    lines."""
    import os
    import subprocess
    import sys

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env["XDG_CACHE_HOME"] = str(cache_home)
    out = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {repo_root!r})\n" + code],
        env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # a process that waits for its JVM's dump at exit stops its context first
    assert "EOFError" not in out.stderr, out.stderr[-3000:]
    return out.stdout.strip().splitlines()


# a session as get_spark builds it, one cold q1_pricing_summary, then exit;
# the last stdout line is what the run printed
_Q1 = (
    "import os\n"
    "from pyspark import SparkContext\n"
    "from gcp_cloudsql_to_bigquery_spark import workload\n"
    "from gcp_cloudsql_to_bigquery_spark.session import get_spark\n"
    "spark = get_spark(master='local[2]', shuffle_partitions=2,\n"
    "                  extra_conf={{'spark.driver.memory': '1g'{extra}}})\n"
    "jvm_env = spark._jvm.java.lang.System.getenv('SPARK_CONF_DIR')\n"
    "rows = len(workload.queries()['q1_pricing_summary'](spark, {sf!r}).toPandas())\n"
    "print(os.getpid(), SparkContext._gateway.proc.pid, rows, jvm_env,\n"
    "      os.environ.get('SPARK_CONF_DIR'))\n"
)


def _q1(cache_home, extra: str = "") -> list[str]:
    from tests.conftest import SF0001

    return _run_engine(_Q1.format(extra=extra, sf=SF0001), cache_home)[-1].split()


def _cache_files(cache: str) -> list[str]:
    import os

    return sorted(n for n in os.listdir(cache) if n != "conf")


@pytest.fixture(scope="module")
def built_archive(tmp_path_factory):
    """One cold process writes a part when it exits, and the next engine
    import promotes it; returns the cache home and the archive's path."""
    import os

    from gcp_cloudsql_to_bigquery_spark import jvmcache
    from gcp_cloudsql_to_bigquery_spark.tmputil import _pid_alive

    home = tmp_path_factory.mktemp("xdg")
    cache = os.path.join(home, "gcp_cloudsql_to_bigquery_spark")
    pid, jvm_pid, rows, jvm_conf_dir, py_conf_dir = _q1(home)
    assert int(rows) > 0
    # the JVM ran with the cache's empty conf dir; the caller's env is restored
    assert jvm_conf_dir == os.path.join(cache, "conf") and py_conf_dir == "None"
    # the process waited for its JVM: the dump is finished and whole
    assert not _pid_alive(int(jvm_pid))
    [part] = _cache_files(cache)
    assert part.endswith(f".{pid}.part")
    assert jvmcache._whole(os.path.join(cache, part))
    _run_engine("import gcp_cloudsql_to_bigquery_spark.session\n", home)
    [archive] = _cache_files(cache)
    assert archive == part.split(".")[0] + ".jsa"
    return home, os.path.join(cache, archive)


def test_a_later_cold_process_maps_classes_from_the_archive(built_archive, tmp_path):
    """With the archive built, a cold process's JVM loads most of its
    classes from it (``-Xlog:class+load`` names the source ``shared
    objects file (top)``), not from Spark's jars; a user's own driver
    option rides along."""
    home, archive = built_archive
    log = tmp_path / "class_load.log"
    _q1(home, extra=f", {_ARCHIVE_OPT!r}: '-Xlog:class+load=info:file={log}'")
    sources = [line.partition(" source: ")[2] for line in log.read_text().splitlines()]
    from_archive = sum(s == "shared objects file (top)" for s in sources)
    from_jars = sum(s.startswith(("jar:", "file:")) for s in sources)
    assert from_archive > 10_000, (from_archive, from_jars)
    assert from_jars < from_archive / 4, (from_archive, from_jars)


def _dead_pid() -> int:
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_a_cut_short_or_live_part_is_never_promoted(built_archive, tmp_path):
    """A part is promoted only when its process is dead and the file is
    whole.  A dump killed mid-write (no header yet) or cut short (regions
    past the end of the file, which a JVM would map and die of SIGBUS on)
    is removed; a part whose process is alive is left alone."""
    import os

    from gcp_cloudsql_to_bigquery_spark import jvmcache

    _, archive = built_archive
    key = os.path.basename(archive).split(".")[0]
    cache = tmp_path / "cache"
    cache.mkdir(mode=0o700)
    size = os.path.getsize(archive)
    with open(archive, "rb") as fh:
        header = fh.read(4096)
    cut, headless = (str(cache / f"{key}.{_dead_pid()}.part") for _ in range(2))
    with open(cut, "wb") as fh:  # sparse: the real header, a file cut 1 MiB short
        fh.write(header)
        fh.truncate(size - (1 << 20))
    with open(headless, "wb") as fh:
        fh.truncate(size)
    live = str(cache / f"{key}.{os.getpid()}.part")
    os.link(archive, live)
    assert not jvmcache._whole(cut) and not jvmcache._whole(headless)
    jvmcache.promote(str(cache))
    assert sorted(os.listdir(cache)) == [os.path.basename(live)]


def test_a_corrupt_archive_still_runs_and_is_replaced(built_archive, tmp_path, monkeypatch):
    """A ``<key>.jsa`` cut short would crash the JVM that maps it (SIGBUS).
    It is checked before use: the session starts, runs q1, and writes a
    fresh part in its place."""
    import os

    from gcp_cloudsql_to_bigquery_spark import jvmcache

    home = tmp_path / "xdg"
    monkeypatch.setenv("XDG_CACHE_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    opts = jvmcache.archive_options({})[_ARCHIVE_OPT]
    part = opts.split("-XX:ArchiveClassesAtExit=")[1].split()[0]
    jsa = part.split(".")[0] + ".jsa"
    _, archive = built_archive
    with open(archive, "rb") as src, open(jsa, "wb") as fh:
        fh.write(src.read(4096))  # a whole header over regions cut 1 MiB short
        fh.truncate(os.path.getsize(archive) - (1 << 20))
    pid, _, rows, *_ = _q1(home)
    assert int(rows) > 0
    assert _cache_files(os.path.dirname(jsa)) == [f"{os.path.basename(jsa)[:-4]}.{pid}.part"]


def test_a_start_only_process_promotes_no_archive(tmp_path):
    """An archive of a session start alone would cut start but not the
    first query, and block the archive that would: such a part is smaller
    than ``_MIN_ARCHIVE_BYTES`` and is removed, not promoted."""
    import os

    home = tmp_path / "xdg"
    cache = os.path.join(home, "gcp_cloudsql_to_bigquery_spark")
    _run_engine(
        "from gcp_cloudsql_to_bigquery_spark.session import get_spark\n"
        "get_spark(master='local[2]', extra_conf={'spark.driver.memory': '1g'}).stop()\n",
        home,
    )
    [part] = _cache_files(cache)
    assert part.endswith(".part")
    _run_engine("import gcp_cloudsql_to_bigquery_spark.session\n", home)
    assert _cache_files(cache) == []
