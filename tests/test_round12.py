"""Round-12 hardening witnesses (ADVICE r11 closures + VERDICT r11 item 2).

1. ADVICE r11 item 1 — the per-invocation checkpoint mkdtemp happens
   BEFORE the session shuffle-partition override in run_to_completion and
   stream_processing_time_trigger: an allocator failure (/dev/shm full)
   can no longer leak the override past the call.
2. Every temp tree, batch-side (ingest staging, the Derby database dir,
   the dedup fingerprint index) and streaming alike, lives in this
   process's private temp home (``tmputil.home``), removed at exit; a
   fully cleaned query leaves its home as it found it.
3. A process that never reaches atexit leaves its homes behind, and the
   next engine process removes them at import — only real, private homes
   of this user's whose PID is dead.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

SF = "/root/testdata/sf0.001"


# --- ADVICE r11 item 1: conf-leak guard --------------------------------------


def test_run_to_completion_conf_restored_when_mkdtemp_fails(spark, monkeypatch):
    """If checkpoint allocation raises, the session-wide shuffle-partition
    override must not leak — mkdtemp now precedes conf.set, so the conf is
    simply never touched."""
    from gcp_cloudsql_to_bigquery_spark.streaming import events as _ev

    stream_df = spark.readStream.format("rate").load()
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(tempfile, "mkdtemp", boom)
    with pytest.raises(OSError):
        _ev.run_to_completion(stream_df, spark, output_mode="append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_processing_time_trigger_conf_restored_when_mkdtemp_fails(
    spark, monkeypatch
):
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(tempfile, "mkdtemp", boom)
    with pytest.raises(OSError):
        REGISTRY["stream_processing_time_trigger"].fn(spark, SF)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


# --- every temp tree lives in this process's home ------------------------------


def test_no_unregistered_mkdtemp_in_package():
    """Every tmp-dir allocation in the package routes through
    tmputil.tmp_dir, so it lands in this process's temp home — AST-based so
    a comment or docstring that spells out the call can't false-positive
    the suite."""
    import ast

    import gcp_cloudsql_to_bigquery_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py") and f != "tmputil.py":
                p = os.path.join(dirpath, f)
                with open(p) as fh:
                    tree = ast.parse(fh.read())
                for node in ast.walk(tree):
                    if isinstance(node, ast.Call):
                        fn = node.func
                        name = (
                            fn.attr
                            if isinstance(fn, ast.Attribute)
                            else fn.id if isinstance(fn, ast.Name) else None
                        )
                        if name == "mkdtemp":
                            offenders.append(
                                f"{os.path.relpath(p, root)}:{node.lineno}"
                            )
    assert offenders == []


def _home_added_during(prefix, fn, root=None):
    """Run fn(); return (result, the trees fn left in this process's home
    under ``root``, basename-prefix filtered)."""
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    before = set(os.listdir(home(root)))
    result = fn()
    added = [
        os.path.join(home(root), n)
        for n in os.listdir(home(root))
        if n not in before and n.startswith(prefix)
    ]
    return result, added


def test_batch_staging_tree_registered_for_atexit(spark):
    """A batch ELT query's lazily-read staging tree (impossible to remove
    eagerly — the returned DataFrame reads it) is made inside this
    process's temp home, which the atexit hook removes."""
    from gcp_cloudsql_to_bigquery_spark import workload  # noqa: F401 (import populates REGISTRY)
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    df, added = _home_added_during(
        "elt_nation_", lambda: REGISTRY["elt_roundtrip_nation"].fn(spark, SF)
    )
    assert df.count() > 0
    assert added, "staging tree must be made inside the home"
    assert all(os.path.exists(p) for p in added)


def test_derby_db_dir_registered_for_atexit(spark):
    """The live-JDBC round-trip's Derby database dir lives in the home too."""
    from gcp_cloudsql_to_bigquery_spark import workload  # noqa: F401 (import populates REGISTRY)
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    df, added = _home_added_during(
        "derby_", lambda: REGISTRY["src_jdbc_roundtrip"].fn(spark, SF)
    )
    assert df.count() > 0
    assert added, "Derby db dir must be made inside the home"


def _repo_root() -> str:
    import gcp_cloudsql_to_bigquery_spark as pkg

    return os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))


def test_atexit_sweep_runs_on_real_interpreter_exit(tmp_path):
    """The exit contract, executed end to end: a subprocess allocates
    through tmputil.tmp_dir and exits normally WITHOUT removing the tree —
    the atexit hook must have removed the tree and its home."""
    import subprocess
    import sys as _sys

    script = (
        f"import sys; sys.path.insert(0, {_repo_root()!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import os\n"
        "p = tmp_dir('atexit_witness_')\n"
        "open(os.path.join(p, 'payload'), 'w').write('x')\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, check=True
    )
    path = out.stdout.strip().splitlines()[-1]
    home = os.path.dirname(path)
    assert os.path.dirname(home) == tempfile.gettempdir()
    assert not os.path.exists(path), "atexit sweep must remove the tree"
    assert not os.path.exists(home), "atexit sweep must remove the home"


def test_registry_net_growth_zero_for_fully_cleaned_query(spark):
    """stream_tumbling_window's only tmp allocation (the memory-sink
    checkpoint) is removed eagerly: the query leaves both homes it could
    touch as it found them — the property that keeps a 375-query registry
    build from piling up trees until exit."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY
    from gcp_cloudsql_to_bigquery_spark.streaming.events import _CKPT_DIR
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    before = {r: set(os.listdir(home(r))) for r in (None, _CKPT_DIR)}
    df = REGISTRY["stream_tumbling_window"].fn(spark, SF)
    assert df.count() > 0
    assert {r: set(os.listdir(home(r))) for r in (None, _CKPT_DIR)} == before


def test_forked_child_keeps_parent_homes():
    """A forked child starts with no homes: it makes its own, and its
    atexit sweep removes only that one, never the parent's."""
    import subprocess
    import sys as _sys

    script = (
        f"import sys; sys.path.insert(0, {_repo_root()!r})\n"
        "import os\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import home\n"
        "mine = home()\n"
        "r, w = os.pipe()\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    os.write(w, home().encode()); sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "child = os.read(r, 4096).decode()\n"
        "print(mine != child, os.path.isdir(mine), os.path.exists(child))\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, check=True
    )
    assert out.stdout.split() == ["True", "True", "False"]


# --- reaping the homes of processes that never reached atexit ------------------

# PID 2**22+1 exceeds the kernel's pid_max ceiling and can never be alive
DEAD_HOME = f"sg{2**22 + 1}_abcd1234"


def _fake_home(root, name=DEAD_HOME, mode=0o700):
    path = os.path.join(str(root), name)
    os.mkdir(path)
    os.chmod(path, mode)
    open(os.path.join(path, "payload"), "w").write("x")
    return path


def test_reap_removes_dead_pid_home(tmp_path, monkeypatch):
    """A private home whose PID is dead is removed with its contents; an
    entry whose name is not exactly a home's is left alone, whatever its
    PID."""
    from gcp_cloudsql_to_bigquery_spark import tmputil

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = _fake_home(tmp_path)
    near_misses = [
        _fake_home(tmp_path, n)
        for n in (f"sg{2**22 + 1}_abc", f"sg{2**22 + 1}_abcd12345", "sgx_abcd1234",
                  "pysock_abcd1234", f"xsg{2**22 + 1}_abcd1234")
    ]
    assert dead in tmputil.reap_stale_tmp()
    assert not os.path.exists(dead)
    assert all(os.path.isdir(p) for p in near_misses)


@pytest.mark.parametrize(
    "foreign", ["symlink", "group_writable", "other_writable", "other_owner"]
)
def test_foreign_home_is_never_reaped(tmp_path, monkeypatch, foreign):
    """Under a shared temp root another user could plant an entry with a
    dead PID's home name.  An entry that is a symlink, is not this user's,
    or that group or others can write to is never removed (nor is a
    symlink's target); the same home made private again is reaped (the
    control)."""
    from gcp_cloudsql_to_bigquery_spark import tmputil

    if foreign == "other_owner" and os.getuid() != 0:
        pytest.skip("chown to another user needs root")
    root = tmp_path / "root"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    if foreign == "symlink":
        target = _fake_home(tmp_path, "target")
        entry = os.path.join(str(root), DEAD_HOME)
        os.symlink(target, entry)
    else:
        entry = _fake_home(root, mode=0o770 if foreign == "group_writable" else 0o707)
        if foreign == "other_owner":
            os.chmod(entry, 0o700)
            os.chown(entry, 65534, 65534)
    assert tmputil.reap_stale_tmp() == []
    assert os.path.lexists(entry)
    if foreign == "symlink":
        assert os.listdir(target) == ["payload"]
        return
    os.chown(entry, os.getuid(), os.getgid())
    os.chmod(entry, 0o700)
    assert tmputil.reap_stale_tmp() == [entry]
    assert not os.path.exists(entry)


def test_reap_never_touches_live_pid_home(tmp_path, monkeypatch):
    """Our own home — and any live process's — is never reaped."""
    from gcp_cloudsql_to_bigquery_spark import tmputil

    mine = tmputil.tmp_dir("reap_live_")
    try:
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        live = _fake_home(tmp_path, f"sg{os.getppid()}_abcd1234")
        removed = tmputil.reap_stale_tmp()
        assert mine not in removed and os.path.dirname(mine) not in removed
        assert os.path.isdir(mine)
        assert os.path.isdir(live)
    finally:
        shutil.rmtree(mine, ignore_errors=True)


def test_sigkill_leak_is_reaped_by_next_process():
    """The exact observed leak class, end to end: a subprocess allocates
    through tmp_dir and is SIGKILLed (atexit never runs, tree survives);
    a SECOND process's import-time janitor must find the dead home and
    remove it."""
    import signal
    import subprocess
    import sys as _sys

    repo_root = _repo_root()
    alloc = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import sys as s, time\n"
        "print(tmp_dir('sigkill_witness_'), flush=True)\n"
        "time.sleep(60)\n"  # hold until killed
    )
    proc = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    try:
        path = proc.stdout.readline().strip()
        assert os.path.isdir(path)
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
        assert os.path.isdir(path), "SIGKILL must leak the tree (no atexit)"
        # a fresh process imports tmputil -> import-time reap repairs it
        out = subprocess.run(
            [
                _sys.executable,
                "-c",
                f"import sys; sys.path.insert(0, {repo_root!r})\n"
                "import gcp_cloudsql_to_bigquery_spark.tmputil as t\n"
                f"print(not __import__('os').path.exists({path!r}))",
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        assert out.stdout.strip().splitlines()[-1] == "True"
        assert not os.path.exists(os.path.dirname(path))
    finally:
        if proc.poll() is None:
            proc.kill()


def test_reap_concurrent_live_process_keeps_trees():
    """The janitor's core safety claim, executed: two processes allocate
    concurrently; one is SIGKILLed, one stays alive.  A reap must remove
    the dead process's home while the live process's home and tree
    survive untouched; after the survivor is killed too, a second reap
    collects it."""
    import signal
    import subprocess
    import sys as _sys

    from gcp_cloudsql_to_bigquery_spark import tmputil

    alloc = (
        f"import sys; sys.path.insert(0, {_repo_root()!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import time\n"
        "print(tmp_dir('concur_witness_'), flush=True)\n"
        "time.sleep(120)\n"
    )
    survivor = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    victim = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    try:
        live_tree = survivor.stdout.readline().strip()
        dead_tree = victim.stdout.readline().strip()
        live_home, dead_home = os.path.dirname(live_tree), os.path.dirname(dead_tree)
        assert os.path.basename(live_home).startswith(f"sg{survivor.pid}_")
        victim.send_signal(signal.SIGKILL)
        victim.wait(timeout=30)

        removed = tmputil.reap_stale_tmp()
        assert dead_home in removed and not os.path.exists(dead_tree)
        assert live_home not in removed and os.path.isdir(live_tree)

        survivor.send_signal(signal.SIGKILL)
        survivor.wait(timeout=30)
        removed2 = tmputil.reap_stale_tmp()
        assert live_home in removed2 and not os.path.exists(live_home)
    finally:
        for p in (survivor, victim):
            if p.poll() is None:
                p.kill()
